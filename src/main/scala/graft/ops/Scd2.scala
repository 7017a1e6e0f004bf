package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Functions._

/** SCD Type-2 merge as a pure snapshot recompute (SURVEY.md §7.4;
  * reference `cards.py:86-176` / `terminals.py:83-194`).
  *
  * The reference mutates the dimension in place (UPDATE to close
  * versions, INSERT to open them). Parquet is immutable, so the merge
  * is re-expressed functionally: the new snapshot is the union of
  *
  *   history ∪ untouchedCurrent ∪ closed ∪ opened
  *
  * with identical observable semantics, including the
  * `- INTERVAL '1 second'` closure timestamps (`cards.py:126`), the
  * `deleted_flg='Y'` marker rows carrying the last known attribute
  * values (`cards.py:145-162`), and resurrect-on-reappear (a key whose
  * current version is 'Y' that shows up in the batch opens a fresh 'N'
  * version).
  *
  * Scale notes: SINGLE-PASS formulation. The naive translation — one
  * join per leg (new/changed/closed/deleted/untouched) — re-scans the
  * dimension per leg (measured: ~7 scans, which at 100 TB is the whole
  * job cost). Instead: ONE full-outer join of `current` ↔ `batch` on
  * the key (plus a membership flag from the delete snapshot), per-key
  * case logic deciding each key's fate, and an `explode` emitting the
  * 0–2 output rows that fate implies (closed predecessor and/or opened
  * successor). The dimension is scanned exactly twice (current +
  * history split), the batch once, the delete snapshot once; one key
  * shuffle total, and AQE broadcasts the typically-small batch side.
  * No driver-side collection, no per-row updates.
  *
  * Dimension frame contract: `key` columns + `tracked` columns +
  * `effective_from`, `effective_to` (timestamp, 9999-12-31 = open) +
  * `deleted_flg` ('N'/'Y'). Batch frame: `key` + `tracked` columns.
  * A key present in `batch` is never delete-marked, regardless of the
  * snapshot (batch membership wins).
  */
object Scd2 {

  /** Merge one batch into a dimension snapshot.
    *
    * @param dim        current dimension snapshot (all versions)
    * @param batch      incoming rows (key + tracked attribute columns)
    * @param keys       natural-key column names
    * @param tracked    change-tracked attribute column names
    * @param batchTs    effective_from for newly opened versions (the
    *                   reference uses the source `update_dt` or the
    *                   file date — parameterized, pinned for parity)
    * @param deleteKeys full key snapshot of the source; keys of `dim`'s
    *                   live current versions absent here are marked
    *                   deleted (reference `*_del` staging tables,
    *                   `cards.py:74-82,145-176`). None = skip delete
    *                   detection.
    * @param deleteTs   effective_from for 'Y' marker rows (terminals
    *                   uses the file date, cards/clients/accounts use
    *                   now() — `terminals.py:172` vs `cards.py:154`;
    *                   parameterized, pinned for parity)
    * @param passthrough extra batch columns carried through the merge
    *                   join so `batchTs`/`newTs` can be PER-ROW
    *                   expressions over source columns (the JDBC
    *                   dimensions open versions at the row's own
    *                   `update_dt`/`create_dt` — `cards.py:98,117` —
    *                   not at a constant batch clock). Never emitted.
    * @param newTs      effective_from for first-version rows when it
    *                   differs from `batchTs` (cards opens NEW keys at
    *                   `create_dt` but CHANGED keys at `update_dt` —
    *                   `cards.py:98` vs `cards.py:117`). Defaults to
    *                   `batchTs`.
    */
  def merge(dim: DataFrame, batch: DataFrame, keys: Seq[String],
            tracked: Seq[String], batchTs: Column,
            deleteKeys: Option[DataFrame] = None,
            deleteTs: Option[Column] = None,
            passthrough: Seq[String] = Nil,
            newTs: Option[Column] = None): DataFrame = {
    val delTs = deleteTs.getOrElse(batchTs)
    val dimCols = dim.columns.toSeq
    val attrCols = dimCols.filterNot(
      Seq("effective_from", "effective_to", "deleted_flg").contains)

    val history = dim.filter(col("effective_to") =!= InfinityTs)
    // Under the SCD2 invariant (exactly one open version per key),
    // "key unseen in any version" ≡ "key unseen in current" — so the
    // whole merge needs only the current slice plus the batch.
    val current = dim.filter(col("effective_to") === InfinityTs)
      .select(keys.map(col) ++
        attrCols.filterNot(keys.contains).map(c => col(c).as(s"__cur_$c")) ++
        Seq(col("effective_from").as("__cur_from"),
          col("deleted_flg").as("__cur_flg"),
          lit(true).as("__in_cur")): _*)
    val batchSide = batch
      .select(keys.map(col) ++ tracked.map(col) ++ passthrough.map(col)
        :+ lit(true).as("__in_batch"): _*)
    val snapSide = deleteKeys match {
      case Some(dk) => dk.select(keys.map(col): _*).distinct()
        .withColumn("__in_snap", lit(true))
      case None => null
    }

    // The one key-wide join of the merge.
    val joined0 = current.join(batchSide, keys, "full_outer")
    val joined = Option(snapSide).fold(joined0.withColumn("__in_snap", lit(true)))(
      sk => joined0.join(sk, keys, "left"))

    val inCur = coalesce(col("__in_cur"), lit(false))
    val inBatch = coalesce(col("__in_batch"), lit(false))
    val inSnap = coalesce(col("__in_snap"), lit(false))
    // J2 + P4: any tracked attribute differs null-safely, or the
    // current version is a 'Y' marker (reappearing key).
    val changed = inCur && inBatch &&
      tracked.map(c => !(col(c) <=> col(s"__cur_$c")))
        .foldLeft(col("__cur_flg") === "Y")(_ || _)
    // J4: live current key absent from the source's full snapshot.
    val deleted = inCur && !inBatch && col("__cur_flg") === "N" && !inSnap

    // Per-key fate → 0-2 output rows, built as dim-shaped structs.
    def shape(attr: String => Column, from: Column, to: Column,
              flg: Column): Column =
      struct(dimCols.map {
        case "effective_from" => from.as("effective_from")
        case "effective_to" => to.as("effective_to")
        case "deleted_flg" => flg.as("deleted_flg")
        case k if keys.contains(k) => col(k).as(k)
        case c => attr(c).as(c)
      }: _*)
    val curAttr = (c: String) => col(s"__cur_$c")
    val batchAttr = (c: String) => col(c)

    // Fate of the existing current row: closed (F10: one second before
    // the successor opens), or carried through untouched.
    val slot1 =
      when(changed, shape(curAttr, col("__cur_from"), minusOneSecond(batchTs), col("__cur_flg")))
        .when(deleted, shape(curAttr, col("__cur_from"), minusOneSecond(delTs), col("__cur_flg")))
        .when(inCur, shape(curAttr, col("__cur_from"), InfinityTs, col("__cur_flg")))
    // Newly opened row: replacement version, first version (J1, at
    // `newTs` when the source distinguishes create from update), or
    // the 'Y' marker carrying the last known attribute values.
    val slot2 =
      when(changed, shape(batchAttr, batchTs, InfinityTs, lit("N")))
        .when(inBatch && !inCur,
          shape(batchAttr, newTs.getOrElse(batchTs), InfinityTs, lit("N")))
        .when(deleted, shape(curAttr, delTs, InfinityTs, lit("Y")))

    val merged = joined
      .select(explode(filter(array(slot1, slot2), s => s.isNotNull)).as("__out"))
      .select(col("__out.*"))

    history.select(dimCols.map(col): _*).unionByName(merged)
  }

  /** Build a full SCD2 history from a change log (CDC ingestion — the
    * inverse of [[merge]]): per key, consecutive
    * rows with identical tracked values collapse into one version;
    * each version runs from its first observation to one second before
    * the next change (open = 9999-12-31). Two stacked windows over ONE
    * key shuffle (same partitioning — lag for change detection, lead
    * for version close), no joins at all.
    *
    * @param log      one row per observation: keys + tracked + event time
    * @param tieBreak deterministic total order within equal timestamps
    */
  def fromChangeLog(log: DataFrame, keys: Seq[String], tracked: Seq[String],
                    tsCol: String, tieBreak: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol), tieBreak)
    val state = struct(tracked.map(col): _*)
    val isChange = !(state <=> lag(state, 1).over(w))
    val changes = log
      .withColumn("__chg", isChange)
      .filter(col("__chg"))
    changes.select(
      keys.map(col) ++ tracked.map(col) ++ Seq(
        col(tsCol).as("effective_from"),
        coalesce(minusOneSecond(lead(col(tsCol), 1).over(w)), InfinityTs)
          .as("effective_to"),
        lit("N").as("deleted_flg")): _*)
  }
}
