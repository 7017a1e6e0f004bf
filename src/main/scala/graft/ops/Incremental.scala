package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.io.TableStore

/** Incremental-load watermark state machine (SURVEY.md §2.10; reference
  * `vean_meta_date`, `main.ddl:133-137`): per-target `max_update_dt`
  * read at start, advanced after a successful load, upserted with an
  * insert-if-absent guard (`transaction.py:95-108`, P11/J9).
  *
  * Every read and commit of the `meta_date` table goes through here,
  * serialised under one lock: the pipeline's load stages run
  * concurrently and share this table, so a commit is a read-modify-
  * write that must not lose a sibling's update, and a read must never
  * list the directory while a commit's snapshot swap is renaming it.
  *
  * The table is tiny (one row per target), so the lock is held only for
  * driver-side work plus one small write: the rows are scanned (the
  * schema from the footer, no inference job) and collected, the watermark
  * (`J9`: the scalar subquery) and the upsert are computed on the
  * driver, and the upserted rows are written back as one local frame
  * through the snapshot swap.
  */
object Incremental {

  val MetaTable = "meta_date"

  val metaSchema: StructType = StructType(Seq(
    StructField("schema_name", StringType),
    StructField("table_name", StringType),
    StructField("max_update_dt", TimestampType)))

  /** The reference's coalesce-to-default fallback
    * (`transaction.py:31-43`: `coalesce((SELECT max_update_dt …),
    * to_timestamp('1900-01-01'))`). */
  val DefaultWatermark: Timestamp = Timestamp.valueOf("1900-01-01 00:00:00")

  private val lock = new Object

  private def rows(store: TableStore): Seq[Row] =
    if (!store.exists(MetaTable)) Seq.empty
    else store.read(MetaTable).collect().toSeq

  private def matches(r: Row, schemaName: String, tableName: String): Boolean =
    r.getString(0) == schemaName && r.getString(1) == tableName

  private def stored(rows: Seq[Row], schemaName: String,
                     tableName: String): Option[Timestamp] =
    rows.filter(r => matches(r, schemaName, tableName) && !r.isNullAt(2))
      .map(_.getTimestamp(2)).maxOption

  /** Read the watermark for (schemaName, tableName), or
    * [[DefaultWatermark]] when the target has never been loaded. */
  def readWatermark(store: TableStore, schemaName: String, tableName: String): Timestamp =
    lock.synchronized(stored(rows(store), schemaName, tableName).getOrElse(DefaultWatermark))

  /** Advance the watermark: upsert (schemaName, tableName) → newMax and
    * commit the table. Reference semantics = INSERT-if-absent (P11
    * `NOT EXISTS` guard, `transaction.py:103`) then UPDATE to the max
    * over staging (`transaction.py:95-108`); `greatest(old, new)` keeps
    * the watermark monotone, as the reference's max() over the
    * just-loaded batch does. */
  def advance(store: TableStore, schemaName: String, tableName: String,
              newMax: Timestamp): Unit = lock.synchronized {
    val current = rows(store)
    val kept = stored(current, schemaName, tableName)
      .filter(_.after(newMax)).getOrElse(newMax)
    write(store, current.filterNot(r => matches(r, schemaName, tableName)) :+
      Row(schemaName, tableName, kept))
  }

  private def write(store: TableStore, rows: Seq[Row]): Unit =
    store.swapSnapshot(MetaTable,
      store.localFrame(rows, metaSchema).coalesce(1))
}
