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
  * Every table is one flat directory of parquet files: no writer
  * here partitions by column, and [[read]] takes a table's schema
  * from a file at the top of its directory.
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
    * infer the schema. A table whose directory holds no data file at
    * its top level (a `k=v` partitioned layout among them) fails
    * naming the table. */
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

  /** The first data file directly in `dir`, in name order. Like
    * Spark's file listing, it skips `.`- and `_`-prefixed names. */
  private def firstDataFile(dir: Path): Option[Path] =
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith(".") && !n.startsWith("_")
      }
      .map(_.getPath).sortBy(_.getName).headOption

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

  /** K4: replace a dimension snapshot that `df` may itself read.
    * Materializes to `<name>.__tmp`, then renames live → `.__old`,
    * tmp → live, and drops the old generation. Renames are atomic per
    * directory on HDFS-like filesystems. */
  def swapSnapshot(name: String, df: DataFrame): Unit = {
    val live = new Path(path(name))
    val tmp = new Path(path(name + ".__tmp"))
    val old = new Path(path(name + ".__old"))
    df.write.mode("overwrite").parquet(tmp.toString)
    restoreRetired(live, old)
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(live) && !fs.rename(live, old))
      throw new java.io.IOException(s"swapSnapshot: cannot retire $live")
    if (!fs.rename(tmp, live))
      throw new java.io.IOException(s"swapSnapshot: cannot promote $tmp")
    fs.delete(old, true): Unit
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
  def commitVersioned(name: String, df: DataFrame): Long = {
    val gen = (committedGens(name) ++ genDirs(name)).foldLeft(0L)(math.max) + 1
    df.write.parquet(new Path(path(name), s"g$gen").toString)
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

  /** Committed generations [[vacuumVersioned]] keeps: the live one and
    * the one before it, for a reader that resolved it just before a
    * commit. */
  val KeepGenerations = 2

  /** Drop generation directories (and their manifest records) older
    * than the newest [[KeepGenerations]] committed ones, plus orphaned
    * never-committed directories below the live generation. Run with
    * no writer in flight, and lag retention behind the longest-running
    * reader (a reader resolves its generation once, then lists files
    * from an immutable directory — the same contract as Delta VACUUM). */
  def vacuumVersioned(name: String): Unit = {
    val committed = committedGens(name)
    val keep = committed.takeRight(KeepGenerations).toSet
    val live = committed.lastOption.getOrElse(Long.MinValue)
    genDirs(name)
      .filter(g => !keep.contains(g) && g < live)
      .foreach(g => fs.delete(new Path(path(name), s"g$g"), true))
    committed.dropRight(KeepGenerations)
      .foreach(g => fs.delete(new Path(manifestDir(name), f"$g%020d"), true))
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
