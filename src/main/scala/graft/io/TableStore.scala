package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-directory table catalog — the engine's sink layer
  * (SURVEY.md §2.2; reference `main.ddl` tables in Postgres).
  *
  * Three write disciplines map the reference's statements:
  *   - [[overwrite]]  = K1 truncate-and-reload staging
  *     (`transaction.py:54`);
  *   - [[append]]     = K2/K3/K6 bulk append of facts / report rows
  *     (`transaction.py:69-84`, `report.py:63-113`);
  *   - [[swapSnapshot]] = K4's in-place `UPDATE` equivalent for SCD2
  *     dimensions: parquet is immutable, so the merged snapshot is
  *     fully materialized to a scratch directory first, then swapped
  *     in with filesystem renames (`terminals.py:133-155`).
  *
  * The swap matters for a second reason: the merged snapshot READS
  * the directory it replaces. Spark cannot overwrite a path it is
  * reading in the same job — materialize-then-rename is the safe
  * order, and on HDFS-like filesystems the rename is atomic per
  * directory. Object stores without atomic directory rename use the
  * MANIFEST-COMMITTED tables instead ([[commitVersioned]] /
  * [[readVersioned]] — immutable generation directories behind an
  * atomically-published pointer file, the minimal Delta-shaped
  * commit).
  *
  * Scale notes: append-mode parquet adds files without rewriting
  * existing data (bounded work per batch regardless of table size);
  * a snapshot swap rewrites only the dimension, never the facts.
  */
final class TableStore(spark: SparkSession, val root: String) {

  def path(name: String): String = s"$root/$name"

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(name: String): Boolean = fs.exists(livePath(name))

  /** The table's rows. The schema comes from one data file's footer,
    * read on the driver: the Spark row schema stored there
    * (`org.apache.spark.sql.parquet.row.metadata`, which Spark's own
    * non-merging inference reads), handed to `spark.read.schema`. So a
    * read launches no Spark job, where `spark.read.parquet` runs one to
    * infer the schema; partition columns are still discovered from the
    * `k=v` directories, with the same types. A table whose directory
    * holds no data file fails naming the table. */
  def read(name: String): DataFrame = {
    val live = livePath(name)
    spark.read.schema(footerSchema(name, live)).parquet(live.toString)
  }

  /** The Spark schema of [[firstDataFile]] under `dir`, as
    * `ParquetFileFormat.readSchemaFromFooter` derives it. */
  private def footerSchema(name: String, dir: Path): StructType = {
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val file = firstDataFile(dir).getOrElse(throw new IllegalStateException(
      s"TableStore.read: table '$name' has no data file under $dir"))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, spark.sparkContext.hadoopConfiguration))
    try ParquetFileFormat.readSchemaFromFooter(new Footer(file, reader.getFooter),
      new ParquetToSparkSchemaConverter(org.apache.spark.sql.internal.SQLConf.get))
    finally reader.close()
  }

  /** The first data file under `dir`, depth first in name order. Like
    * Spark's file listing, it skips `.`- and `_`-prefixed names, except
    * `_k=v` partition directories. */
  private def firstDataFile(dir: Path): Option[Path] =
    if (!fs.exists(dir)) None
    else {
      val (dirs, files) = fs.listStatus(dir).toSeq
        .filter { st =>
          val n = st.getPath.getName
          !n.startsWith(".") && (!n.startsWith("_") || n.contains("="))
        }
        .sortBy(_.getPath.getName).partition(_.isDirectory)
      files.headOption.map(_.getPath)
        .orElse(dirs.iterator.flatMap(d => firstDataFile(d.getPath)).nextOption())
    }

  /** A frame over driver-side rows — for tables small enough to be
    * computed on the driver and written whole. */
  def localFrame(rows: Seq[org.apache.spark.sql.Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The table's live directory, after undoing a snapshot swap that
    * died between its two renames (see [[restoreRetired]]). */
  private def livePath(name: String): Path = {
    val p = new Path(path(name))
    restoreRetired(p, new Path(path(name + ".__old")))
    p
  }

  /** Read, or an empty frame with the given schema if the table has
    * never been written (first pipeline run). */
  def readOr(name: String, schema: StructType): DataFrame =
    if (exists(name)) read(name)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** K1: truncate-and-reload (staging). The target must not feed `df`. */
  def overwrite(name: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(path(name))

  /** K2/K3/K6: bulk append (facts, report). */
  def append(name: String, df: DataFrame): Unit =
    df.write.mode("append").parquet(path(name))

  /** Remove a table directory (build-time intermediates — e.g. the
    * positional-hash phase of the winnow index build). No-op if the
    * table never existed. */
  def delete(name: String): Unit =
    fs.delete(new Path(path(name)), true): Unit

  /** Hive-style partitioned overwrite: readers filtering on the
    * partition columns scan only matching directories (partition
    * pruning — at 100 TB, the difference between touching one day and
    * touching the table). Partition by low-cardinality, always-filtered
    * columns (load date, source); never by a high-cardinality key. */
  def overwritePartitioned(name: String, df: DataFrame,
                           partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path(name))

  /** Partition-pruned append: adds files only under the incoming
    * rows' partition directories. */
  def appendPartitioned(name: String, df: DataFrame,
                        partitionCols: Seq[String]): Unit =
    df.write.mode("append").partitionBy(partitionCols: _*).parquet(path(name))

  /** Bucketed catalog table: rows hash-distributed into `buckets`
    * files by the bucket columns and sorted within each. Two tables
    * bucketed the same way join WITHOUT a shuffle — at 100 TB,
    * pre-bucketing the fact and its dimensions on the join key turns
    * every pipeline join into a local merge. Requires the session
    * catalog (bucket metadata lives in the metastore, not parquet),
    * so these are `saveAsTable` tables addressed by name, not path. */
  def saveBucketed(table: String, df: DataFrame, bucketCols: Seq[String],
                   buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Compact an append-only table's accumulated small files: every
    * batch append adds files, and file count — not data size — is what
    * degrades scan planning and shuffle fan-out over time. Run
    * periodically, not per batch: the rewrite costs one pass over the
    * table.
    *
    * Unpartitioned tables rewrite whole into `targetFiles` files via
    * the snapshot swap. Hive-partitioned tables rewrite PER LEAF
    * PARTITION into `targetFiles` files each — a plain rewrite would
    * flatten the layout (and re-infer partition-column types), and at
    * 100 TB rewriting the whole table to fix one hot day's file count
    * is the wrong cost model anyway: each leaf rewrite reads and
    * swaps only that directory, so compaction work is bounded by the
    * partition, not the table. Leaf data files carry no partition
    * columns (they live in the directory names), so a per-leaf
    * read→repartition→swap preserves schema, layout, and partition
    * pruning exactly. The driver iterates partition directory NAMES
    * (metadata, never data); scratch/retired dirs are dot-prefixed so
    * Hadoop path filters hide them from concurrent readers mid-swap. */
  def compact(name: String, targetFiles: Int): Unit = {
    val leaves = leafPartitionDirs(new Path(path(name)))
    if (leaves.isEmpty) swapSnapshot(name, read(name).repartition(targetFiles))
    else leaves.foreach { leaf =>
      val tmp = new Path(leaf.getParent, s".__tmp_${leaf.getName}")
      val old = new Path(leaf.getParent, s".__old_${leaf.getName}")
      spark.read.parquet(leaf.toString).repartition(targetFiles)
        .write.mode("overwrite").parquet(tmp.toString)
      swapDirs(leaf, tmp, old)
    }
  }

  /** Leaf `k=v` partition directories under `root` (depth-first;
    * multi-level layouts return the deepest level). Empty for an
    * unpartitioned table. Hidden (`.`/`_`) entries are skipped — they
    * are scratch, committer, or metadata dirs, never partitions. */
  private def leafPartitionDirs(root: Path): Seq[Path] = {
    def visible(p: Path): Boolean =
      !p.getName.startsWith(".") && !p.getName.startsWith("_")
    def walk(dir: Path): Seq[Path] = {
      val parts = fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory && visible(st.getPath) &&
          st.getPath.getName.contains("="))
      parts.flatMap { st =>
        val deeper = walk(st.getPath)
        if (deeper.isEmpty) Seq(st.getPath) else deeper
      }
    }
    walk(root)
  }

  /** Data files currently backing a table (maintenance telemetry). */
  def fileCount(name: String): Int = {
    val it = fs.listFiles(new Path(path(name)), true)
    var n = 0
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Partition-scoped snapshot swap: replace ONLY the `partitionCol=v`
    * leaves that `df` actually contains, leaving every other leaf's
    * files untouched on disk — not rewritten, not re-committed,
    * byte-identical. This is the production middle ground between
    * [[swapSnapshot]] (full-table rewrite per batch — correct but at
    * 100 TB the whole job cost) and a mutable table format's
    * `MERGE INTO`: when the table is partitioned by a key-hash bucket
    * ([[graft.ops.Scd2.mergePartitioned]]), a daily batch touching 1%
    * of keys rewrites ~1% of the table.
    *
    * `df` may read the table it replaces: it is fully materialized to
    * a scratch sibling first, then each leaf is promoted with the same
    * atomic rename dance as [[swapSnapshot]]. Retired leaves are
    * dot-prefixed mid-swap so concurrent readers never see both
    * generations. */
  def swapPartitions(name: String, df: DataFrame, partitionCol: String): Unit = {
    val live = new Path(path(name))
    val scratch = new Path(path(name + ".__ptmp"))
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(scratch.toString)
    val leaves = fs.listStatus(scratch).toSeq.filter(st =>
      st.isDirectory && st.getPath.getName.startsWith(partitionCol + "="))
    if (!fs.exists(live)) fs.mkdirs(live)
    leaves.foreach { st =>
      val target = new Path(live, st.getPath.getName)
      val old = new Path(live, s".__old_${st.getPath.getName}")
      swapDirs(target, st.getPath, old)
    }
    fs.delete(scratch, true): Unit
  }

  /** K4: replace a dimension snapshot that `df` may itself read.
    * Materializes to `<name>.__tmp`, then renames old → `.__old`,
    * tmp → live, and drops the old generation. */
  def swapSnapshot(name: String, df: DataFrame): Unit = {
    val live = new Path(path(name))
    val tmp = new Path(path(name + ".__tmp"))
    val old = new Path(path(name + ".__old"))
    df.write.mode("overwrite").parquet(tmp.toString)
    swapDirs(live, tmp, old)
  }

  /** [[swapSnapshot]] for a Hive-partitioned layout: the scratch
    * generation is written `partitionBy(partitionCols)` and the WHOLE
    * directory is swapped in one rename — the full-rewrite sibling of
    * [[swapPartitions]] for batches that touch most partitions anyway
    * (per-leaf renames and partition-pruned scans only pay off when
    * most leaves survive untouched). */
  def swapSnapshotPartitioned(name: String, df: DataFrame,
                              partitionCols: Seq[String]): Unit = {
    val live = new Path(path(name))
    val tmp = new Path(path(name + ".__tmp"))
    val old = new Path(path(name + ".__old"))
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(tmp.toString)
    swapDirs(live, tmp, old)
  }

  // ------------------------------------------------------------------
  // Manifest-committed (versioned) tables — the object-store-safe
  // commit protocol. [[swapSnapshot]]'s directory rename is atomic on
  // HDFS-like filesystems but NOT on S3-class object stores (rename =
  // copy + delete there, and readers can observe the half-state).
  // Versioned tables never rename a directory:
  //
  //   <name>/g<N>/…parquet      immutable generation directories
  //   <name>/_manifest/<N pad>  commit records (content: "g<N>")
  //
  // A generation EXISTS only once its manifest record does; the record
  // is published by writing a dot-temp FILE and renaming it into place
  // — a single-object atomic publish (HDFS file rename; PUT-if-absent
  // on object stores). A writer that dies after materializing g<N> but
  // before publishing leaves an unreferenced directory: readers keep
  // resolving the last COMMITTED generation (TableStoreSpec pins the
  // killed-mid-swap case), and the next writer skips past the orphan.
  // This is the minimal Delta-shaped commit — a log of immutable
  // generation pointers over plain parquet — and the production
  // hardening for K4/T5 swaps on object stores. `_manifest` is
  // underscore-prefixed, so Spark's file index ignores it; versioned
  // tables are read through [[readVersioned]], never [[read]] (a raw
  // directory read would union every generation).
  //
  // Single-writer discipline (the reference's cron model): a racing
  // second committer fails loudly on the record publish — no record is
  // ever overwritten.
  // ------------------------------------------------------------------

  private def manifestDir(name: String) = new Path(path(name), "_manifest")

  /** Committed generation numbers, ascending. */
  private def committedGens(name: String): Seq[Long] = {
    val md = manifestDir(name)
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq.map(_.getPath.getName)
      .filter(_.matches("[0-9]{20}")).map(_.toLong).sorted
  }

  /** The live (latest committed) generation, if any. */
  def liveGeneration(name: String): Option[Long] = committedGens(name).lastOption

  /** All `g<N>` generation directories on disk, committed or orphaned. */
  private def genDirs(name: String): Seq[Long] = {
    val root = new Path(path(name))
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.matches("g[0-9]+"))
      .map(_.getPath.getName.drop(1).toLong).sorted
  }

  /** Write `df` as a new immutable generation and atomically commit it.
    * `df` may read the table's live generation (it is fully
    * materialized into its own directory before the pointer moves).
    * @return the committed generation number */
  def commitVersioned(name: String, df: DataFrame): Long =
    commitGen(name, df, _ => ())

  /** [[commitVersioned]] plus a pre-publish hook: the hook runs after
    * the generation directory is fully materialized but BEFORE the
    * manifest record exists — anything it writes (file statistics, a
    * secondary index) is guaranteed present whenever the commit is
    * visible, and a crash inside the hook leaves an invisible orphan,
    * never a half-described committed generation. */
  private def commitGen(name: String, df: DataFrame,
                        beforePublish: Long => Unit): Long = {
    val gen = (committedGens(name) ++ genDirs(name)).foldLeft(0L)(math.max) + 1
    df.write.parquet(new Path(path(name), s"g$gen").toString)
    beforePublish(gen)
    val md = manifestDir(name)
    fs.mkdirs(md)
    val rec = new Path(md, f"$gen%020d")
    val tmp = new Path(md, f".$gen%020d.tmp")
    val out = fs.create(tmp, false)
    try out.write(s"g$gen".getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, rec)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"commitVersioned: cannot publish $rec (concurrent writer?)")
    }
    gen
  }

  /** Read the live committed generation. An uncommitted (crashed)
    * write is invisible here by construction. */
  def readVersioned(name: String): DataFrame = {
    val gen = liveGeneration(name).getOrElse(throw new java.util.NoSuchElementException(
      s"readVersioned: no committed generation for '$name'"))
    spark.read.parquet(new Path(path(name), s"g$gen").toString)
  }

  /** All committed generation numbers, ascending — the queryable
    * commit history (what Delta calls the transaction log listing). */
  def generations(name: String): Seq[Long] = committedGens(name)

  /** TIME TRAVEL: read a specific committed generation — the audit /
    * reproduce-yesterday's-training-set read. Committed only: an
    * orphaned (crashed-writer) directory is not a generation, and a
    * vacuumed one is gone — pin retention to the longest look-back. */
  def readVersionedAt(name: String, gen: Long): DataFrame = {
    require(committedGens(name).contains(gen),
      s"readVersionedAt: generation $gen of '$name' is not committed " +
        s"(have: ${committedGens(name).mkString(", ")})")
    spark.read.parquet(new Path(path(name), s"g$gen").toString)
  }

  /** [[compact]] for a versioned table: the live generation rewritten
    * into `targetFiles` files as a NEW commit — readers never observe
    * a half-compacted state, and time travel to pre-compaction
    * generations still works until vacuum. */
  def compactVersioned(name: String, targetFiles: Int): Long =
    commitVersioned(name, readVersioned(name).repartition(targetFiles))

  /** Drop generation directories (and their manifest records) older
    * than the newest `keepGenerations` committed ones, plus orphaned
    * never-committed directories below the live generation. Run with
    * no writer in flight, and lag retention behind the longest-running
    * reader (a reader resolves its generation once, then lists files
    * from an immutable directory — the same contract as Delta VACUUM). */
  def vacuumVersioned(name: String, keepGenerations: Int = 2): Unit = {
    require(keepGenerations >= 1, "vacuumVersioned: must keep >= 1 generation")
    val committed = committedGens(name)
    val keep = committed.takeRight(keepGenerations).toSet
    val live = committed.lastOption.getOrElse(Long.MinValue)
    genDirs(name)
      .filter(g => !keep.contains(g) && g < live)
      .foreach { g =>
        fs.delete(new Path(path(name), s"g$g"), true)
        fs.delete(statsDir(name, g), true): Unit
      }
    committed.dropRight(keepGenerations)
      .foreach(g => fs.delete(new Path(manifestDir(name), f"$g%020d"), true))
  }

  // ------------------------------------------------------------------
  // Data-skipping file statistics — the second half of the Delta-shaped
  // commit. [[commitVersionedWithStats]] records per-FILE min/max/null
  // counts for chosen columns alongside each generation, harvested from
  // the parquet FOOTERS the write already produced (metadata-only — no
  // second pass over the data). [[readVersionedPruned]] then plans a
  // range scan from the stats: files whose [min,max] cannot intersect
  // the predicate are never listed into the scan at all. Parquet's own
  // row-group skipping still applies WITHIN the files that survive;
  // this layer removes whole files from the query before any footer is
  // opened at read time — at 100 TB the difference between scheduling
  // 100k tasks and scheduling the 40 whose files can match.
  //
  // File-level min/max only helps if values are CLUSTERED into files.
  // [[commitVersionedClustered]] provides the layout half: rows sorted
  // by a Z-order key over the cluster columns
  // ([[graft.functions.Functions.zorderKey]]) and range-partitioned
  // into files, so EVERY cluster column gets tight per-file bounds — a
  // linear sort gives them only to its leading column.
  // ------------------------------------------------------------------

  private def statsDir(name: String, gen: Long) =
    new Path(new Path(path(name), "_stats"), s"g$gen")

  /** Parquet stats and Spark's string comparisons order strings by
    * UTF-8 bytes (unsigned — equivalently by code point); the JVM's
    * `String` ordering is UTF-16 code-unit order, which DISAGREES for
    * supplementary-plane characters (≥ U+10000, surrogate pairs
    * starting 0xD800) vs characters in [U+E000, U+FFFF]. Every stats
    * bound and pruning comparison uses THIS order so a file can never
    * be skipped while containing rows the BETWEEN residual would
    * keep. */
  private val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private val statsSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("file", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("col", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("ptype", org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("nulls", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("rows", org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("min_long", org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("max_long", org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("min_double", org.apache.spark.sql.types.DoubleType, nullable = true),
    org.apache.spark.sql.types.StructField("max_double", org.apache.spark.sql.types.DoubleType, nullable = true),
    org.apache.spark.sql.types.StructField("min_str", org.apache.spark.sql.types.StringType, nullable = true),
    org.apache.spark.sql.types.StructField("max_str", org.apache.spark.sql.types.StringType, nullable = true)))

  /** [[commitVersioned]] recording per-file min/max/null-count
    * statistics for `statsCols` (from the written generation's parquet
    * footers; see the section comment). The stats table is itself
    * parquet, under `_stats/g<N>` (underscore-prefixed: invisible to
    * data scans), written before the manifest record publishes.
    *
    * Footers are read driver-side here (one ~KB read per file — the
    * same work `spark.read` does at planning time); a deployment
    * committing hundreds of thousands of files per generation would
    * lift the identical loop into `spark.parallelize(files)`. */
  def commitVersionedWithStats(name: String, df: DataFrame,
                               statsCols: Seq[String]): Long =
    commitGen(name, df, gen => writeFooterStats(name, gen, statsCols))

  private def writeFooterStats(name: String, gen: Long,
                               statsCols: Seq[String]): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val genDir = new Path(path(name), s"g$gen")
    val conf = spark.sparkContext.hadoopConfiguration
    val files = fs.listStatus(genDir).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
    val rows = files.flatMap { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = reader.getFooter.getBlocks
        import scala.jdk.CollectionConverters._
        // A file with no row groups holds no rows: it needs no stats
        // row, and pruning it out of every scan is exactly right.
        if (blocks.isEmpty) Seq.empty
        else statsCols.map { c =>
          val chunks = blocks.asScala.toSeq.map { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == c).getOrElse(
              throw new IllegalArgumentException(
                s"commitVersionedWithStats: column '$c' absent from ${p.getName}"))
          }
          val ptn = chunks.head.getPrimitiveType.getPrimitiveTypeName
          val nulls = chunks.map(_.getStatistics.getNumNulls).sum
          val fileRows = blocks.asScala.map(_.getRowCount).sum
          val nonEmpty = chunks.filter(_.getStatistics.hasNonNullValue)
          def mins = nonEmpty.map(_.getStatistics.genericGetMin)
          def maxs = nonEmpty.map(_.getStatistics.genericGetMax)
          val (ptype, mnL, mxL, mnD, mxD, mnS, mxS): (String, Any, Any, Any, Any, Any, Any) = ptn match {
            case INT32 if nonEmpty.nonEmpty =>
              ("long", mins.map(_.asInstanceOf[Number].longValue).min,
                maxs.map(_.asInstanceOf[Number].longValue).max, null, null, null, null)
            case INT64 if nonEmpty.nonEmpty =>
              ("long", mins.map(_.asInstanceOf[Number].longValue).min,
                maxs.map(_.asInstanceOf[Number].longValue).max, null, null, null, null)
            case FLOAT | DOUBLE if nonEmpty.nonEmpty =>
              ("double", null, null, mins.map(_.asInstanceOf[Number].doubleValue).min,
                maxs.map(_.asInstanceOf[Number].doubleValue).max, null, null)
            case BINARY if nonEmpty.nonEmpty =>
              ("string",
                null, null, null, null,
                mins.map(_.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8).min(utf8Order),
                maxs.map(_.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8).max(utf8Order))
            case INT32 | INT64 | FLOAT | DOUBLE | BINARY =>
              // all-null column in this file: typed but boundless
              (ptn match {
                case FLOAT | DOUBLE => "double"
                case BINARY => "string"
                case _ => "long"
              }, null, null, null, null, null, null)
            case other => throw new IllegalArgumentException(
              s"commitVersionedWithStats: unsupported parquet type $other for '$c'")
          }
          org.apache.spark.sql.Row(p.getName, c, ptype, nulls, fileRows,
            mnL, mxL, mnD, mxD, mnS, mxS)
        }
      } finally reader.close()
    }
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), statsSchema)
      .coalesce(1).write.parquet(statsDir(name, gen).toString)
  }

  /** The live generation's recorded file statistics for `column`:
    * one row per data file with exact footer bounds, null count, and
    * row count. `None` when the generation carries no stats or none
    * for this column. Cost-model consumers (e.g.
    * [[graft.ops.Temporal.autoBucketWidth]]) read THIS instead of
    * scanning data — the same few-KB read the pruned scan plans
    * from. */
  def columnStats(name: String, column: String): Option[DataFrame] = {
    val gen = liveGeneration(name).getOrElse(return None)
    val sd = statsDir(name, gen)
    if (!fs.exists(sd)) return None
    val st = spark.read.parquet(sd.toString)
      .filter(org.apache.spark.sql.functions.col("col") === column)
    if (st.isEmpty) None else Some(st)
  }

  /** Range scan over the live generation planned through its file
    * statistics: only files whose recorded [min,max] for `column` can
    * intersect [lo, hi] are listed into the scan; the row-level
    * `BETWEEN` filter is applied on top, so the result is exactly
    * `readVersioned(name).filter(column between (lo, hi))` — the stats
    * change which files are READ, never which rows qualify. A
    * generation committed without stats (plain [[commitVersioned]])
    * falls back to the unpruned scan. */
  def readVersionedPruned(name: String, column: String, lo: Any, hi: Any): DataFrame = {
    val gen = liveGeneration(name).getOrElse(throw new java.util.NoSuchElementException(
      s"readVersionedPruned: no committed generation for '$name'"))
    val full = spark.read.parquet(new Path(path(name), s"g$gen").toString)
    val bounded = full.filter(
      org.apache.spark.sql.functions.col(column)
        .between(org.apache.spark.sql.functions.lit(lo),
          org.apache.spark.sql.functions.lit(hi)))
    val sd = statsDir(name, gen)
    if (!fs.exists(sd)) return bounded
    val st = spark.read.parquet(sd.toString)
      .filter(org.apache.spark.sql.functions.col("col") === column).collect()
    // A column absent from the stats table is the same logical
    // situation as a generation with no stats dir at all (stats were
    // recorded, just not for THIS column): fall back to the bounded
    // full scan rather than failing one case and not the other.
    if (st.isEmpty) return bounded
    def num(v: Any): Double = v match {
      case n: Number => n.doubleValue
      case other => throw new IllegalArgumentException(
        s"readVersionedPruned: non-numeric bound $other for numeric column '$column'")
    }
    val keep = st.filter { r =>
      r.getString(r.fieldIndex("ptype")) match {
        // an all-null file has NULL bounds: BETWEEN can never match it
        case "long" if r.isNullAt(r.fieldIndex("min_long")) => false
        case "double" if r.isNullAt(r.fieldIndex("min_double")) => false
        case "string" if r.isNullAt(r.fieldIndex("min_str")) => false
        case "long" =>
          num(lo) <= r.getLong(r.fieldIndex("max_long")) &&
            num(hi) >= r.getLong(r.fieldIndex("min_long"))
        case "double" =>
          num(lo) <= r.getDouble(r.fieldIndex("max_double")) &&
            num(hi) >= r.getDouble(r.fieldIndex("min_double"))
        case "string" =>
          utf8Order.lteq(lo.toString, r.getString(r.fieldIndex("max_str"))) &&
            utf8Order.gteq(hi.toString, r.getString(r.fieldIndex("min_str")))
      }
    }.map(r => new Path(new Path(path(name), s"g$gen"), r.getString(r.fieldIndex("file"))).toString)
    if (keep.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full.schema)
    else
      spark.read.schema(full.schema).parquet(keep.toIndexedSeq: _*)
        .filter(org.apache.spark.sql.functions.col(column)
          .between(org.apache.spark.sql.functions.lit(lo),
            org.apache.spark.sql.functions.lit(hi)))
  }

  /** [[commitVersionedWithStats]] with the LAYOUT that makes the stats
    * bite on every cluster column at once: rows are Z-order-sorted
    * over `clusterCols` (each min/max-normalized to `bits` bits in one
    * aggregate pass) and range-partitioned into `files` files, so each
    * file covers a compact hyper-rectangle of the cluster-column space
    * and [[readVersionedPruned]] skips files for predicates on ANY of
    * them. Cluster columns must be numeric; normalization is
    * double-precision (layout-only — row VALUES are untouched, and
    * stats are exact footer bounds). The z key is dropped before the
    * write: it orders the writer, it is not data. */
  def commitVersionedClustered(name: String, df: DataFrame,
                               clusterCols: Seq[String], files: Int,
                               bits: Int = 12,
                               statsCols: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.functions._
    require(clusterCols.nonEmpty, "commitVersionedClustered: no cluster columns")
    val side = 1L << bits
    val aggCols = clusterCols.zipWithIndex.flatMap { case (c, i) =>
      Seq(min(col(c)).cast("double").as(s"mn$i"),
        max(col(c)).cast("double").as(s"mx$i"))
    }
    val bounds = df.agg(aggCols.head, aggCols.tail: _*).head()
    val nullCols = clusterCols.zipWithIndex.collect {
      case (c, i) if bounds.isNullAt(bounds.fieldIndex(s"mn$i")) => c
    }
    if (nullCols.nonEmpty) {
      // min/max aggregate to NULL for an empty frame (every cluster
      // column) or an all-null cluster column. An empty frame has no
      // layout to choose — commit it plainly (readers prune/fall back
      // through the normal stats path); an all-null cluster column on
      // a NON-empty frame is a caller bug and fails by name.
      if (df.isEmpty)
        return commitGen(name, df, gen => writeFooterStats(name, gen,
          if (statsCols.nonEmpty) statsCols else clusterCols))
      throw new IllegalArgumentException(
        "commitVersionedClustered: cluster column(s) " +
          nullCols.mkString("'", "', '", "'") + " are entirely null")
    }
    val scaled = clusterCols.zipWithIndex.map { case (c, i) =>
      val (mn, mx) = (bounds.getDouble(bounds.fieldIndex(s"mn$i")),
        bounds.getDouble(bounds.fieldIndex(s"mx$i")))
      if (mx <= mn) lit(0L)
      else least(lit(side - 1),
        floor((col(c).cast("double") - lit(mn)) / lit(mx - mn) * lit(side.toDouble - 1)))
    }
    val zc = graft.functions.Functions.zorderKey(bits, scaled: _*)
    commitGen(name,
      df.withColumn("__z", zc)
        .repartitionByRange(files, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z"),
      gen => writeFooterStats(name, gen,
        if (statsCols.nonEmpty) statsCols else clusterCols))
  }

  /** Generation-diff CDC feed: the key-level changes that turn
    * generation `fromGen` into `toGen` — `insert` (key only in new),
    * `delete` (key only in old), `update` (key in both, any non-key
    * attribute differs, null-safely). Unchanged keys produce no row.
    * This is the read side of the versioned commit a downstream
    * incremental consumer wants: instead of re-scanning the new
    * snapshot, it processes a feed bounded by what actually changed.
    * One shuffle (the full outer join on the key); both sides are
    * single committed generations, so the work is bounded by the two
    * snapshots compared, never the table's history. Keys must be
    * non-null. */
  def tableChanges(name: String, fromGen: Long, toGen: Long,
                   keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val oldDf = readVersionedAt(name, fromGen)
    val newDf = readVersionedAt(name, toGen)
    require(oldDf.columns.sorted.sameElements(newDf.columns.sorted),
      s"tableChanges: schema drift between g$fromGen and g$toGen of '$name'")
    val nonKey = oldDf.columns.filterNot(keyCols.contains).sorted.toSeq
    def side(df: DataFrame, p: String) =
      df.select(keyCols.map(c => col(c).as(s"${p}_$c")) ++
        Seq(struct(nonKey.map(col): _*).as(s"${p}_v"), lit(1).as(s"${p}_present")): _*)
    val l = side(oldDf, "l")
    val r = side(newDf, "r")
    val cond = keyCols.map(c => col(s"l_$c") === col(s"r_$c")).reduce(_ && _)
    l.join(r, cond, "full_outer")
      .withColumn("change_type",
        when(col("r_present").isNull, "delete")
          .when(col("l_present").isNull, "insert")
          .when(!(col("l_v") <=> col("r_v")), "update"))
      .filter(col("change_type").isNotNull)
      .select(keyCols.map(c =>
        coalesce(col(s"l_$c"), col(s"r_$c")).as(c)) :+ col("change_type"): _*)
  }

  /** The rename dance shared by snapshot and per-partition swaps:
    * retire live → `old`, promote `tmp` → live, drop `old`. Renames
    * are atomic per directory on HDFS-like filesystems. */
  private def swapDirs(live: Path, tmp: Path, old: Path): Unit = {
    restoreRetired(live, old)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"swapDirs: cannot retire $live")
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"swapDirs: cannot promote $tmp")
    fs.delete(old, true): Unit
  }

  /** A swap that died after retiring live → `old` but before promoting
    * the scratch generation leaves no live directory, and `old` is the
    * only good copy: promote it back. Without this a reader would see
    * the table as never written, and the next swap would delete `old`.
    * Single writer per table: a reader must not run concurrently with
    * that table's own swap (the pipeline's stages write disjoint
    * tables, and its one shared table is read and swapped under
    * [[graft.ops.Incremental]]'s lock). */
  private def restoreRetired(live: Path, old: Path): Unit =
    if (!fs.exists(live) && fs.exists(old) && !fs.rename(old, live))
      throw new java.io.IOException(s"restoreRetired: cannot restore $old")
}
