package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal / as-of joins (SURVEY.md J6; reference `report.py:38-41`):
  * look up the dimension version valid at fact time.
  *
  * The reference's condition is an equi key plus a *strict* range:
  * `trans_date > effective_from AND trans_date < effective_to AND
  * deleted_flg = 'N'`. Spark-first mapping: keep the equi key so the
  * join hashes; the range terms become join residuals evaluated inside
  * the hash join — never a cartesian. No broadcast hint by default: a
  * hint overrides AQE's size check, and an SCD2 dimension grows with
  * the data — at 100 TB a forced broadcast OOMs. AQE converts to
  * broadcast at runtime when the dim really is small; callers may force
  * it only for provably bounded frames.
  */
object Temporal {

  /** Pure range (point-in-interval) join with NO equi key — the shape
    * Spark's planner can only execute as a broadcast-nested-loop or
    * cartesian product, both of which are O(points × intervals) and
    * die at scale. Bucketing turns it into an equi join: each interval
    * explodes into the fixed-width buckets it covers, each point keys
    * to its single containing bucket, the join hashes on the bucket
    * id, and the true range predicate `start <= point < end`
    * (half-open) evaluates as a join residual inside the hash join. A
    * matching (point, interval) pair surfaces EXACTLY once — the point
    * owns one bucket and the interval covers that bucket once — so no
    * distinct pass is needed.
    *
    * Scale shape: work ∝ |points| + Σ(span/width) over intervals +
    * |matches|; a 100 TB point side shuffles ONCE on the bucket id
    * (or not at all if AQE broadcasts the exploded interval side).
    * `bucketWidth` trades interval replication (≈ span/width rows per
    * interval) against bucket selectivity (points sharing a bucket) —
    * set it near the typical interval span. Inputs must be integer
    * spaces (epoch days/seconds; see the determinism notes on
    * integer-space math). Empty intervals (`end <= start`) match
    * nothing and are dropped before the explode — `sequence` would
    * otherwise generate a DESCENDING range for them. */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
                point: Column, start: Column, end: Column,
                bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"rangeJoin: bucketWidth must be positive, got $bucketWidth")
    val w = lit(bucketWidth.toDouble)
    // floor(x / w) on doubles is the mathematical floor for negative
    // values too (integer `div` truncates toward zero instead).
    def bucketOf(c: Column): Column = floor(c / w).cast("long")
    val iv = intervals
      .filter(end > start)
      .withColumn("__bucket", explode(sequence(bucketOf(start), bucketOf(end - 1))))
    val pt = points.withColumn("__bucket", bucketOf(point))
    pt.join(iv, pt("__bucket") === iv("__bucket") && point >= start && point < end)
      .drop("__bucket")
  }

  /** Interval-overlap join (interval × interval, half-open semantics:
    * overlap iff `lStart < rEnd && rStart < lEnd`) with NO equi key —
    * the meeting-scheduler / downtime-correlation / validity-window
    * shape. Same bucketing rewrite as [[rangeJoin]], with one extra
    * idea: BOTH sides explode into their covered buckets, so an
    * overlapping pair meets in every shared bucket — instead of a
    * `distinct` pass over the multiplied matches (a full extra
    * shuffle of the result), each pair is emitted only by the bucket
    * that OWNS it: the bucket containing `greatest(lStart, rStart)`,
    * the first instant of the intersection. Both sides provably cover
    * that bucket, and exactly one joined bucket satisfies the
    * ownership predicate, so the pair set needs no dedup — the
    * residual does what the extra exchange would have.
    *
    * Work ∝ Σ spans/width on each side + matches, one shuffle each
    * side on the bucket id. Empty/inverted intervals drop before the
    * explode (descending `sequence` hazard, as in [[rangeJoin]]). */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
                          lStart: Column, lEnd: Column,
                          rStart: Column, rEnd: Column,
                          bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0,
      s"intervalOverlapJoin: bucketWidth must be positive, got $bucketWidth")
    val w = lit(bucketWidth.toDouble)
    def bucketOf(c: Column): Column = floor(c / w).cast("long")
    val l = left.filter(lEnd > lStart).withColumn("__lb",
      explode(sequence(bucketOf(lStart), bucketOf(lEnd - 1))))
    val r = right.filter(rEnd > rStart).withColumn("__rb",
      explode(sequence(bucketOf(rStart), bucketOf(rEnd - 1))))
    l.join(r,
        col("__lb") === col("__rb") &&
          lStart < rEnd && rStart < lEnd &&
          col("__lb") === bucketOf(greatest(lStart, rStart)))
      .drop("__lb", "__rb")
  }

  /** Backward as-of join (the `merge_asof` shape): for every LEFT row,
    * the latest RIGHT row of the same key with `rightTs <= leftTs` —
    * the last-known-sensor-reading / last-view-before-purchase lookup
    * every time-series feature pipeline runs.
    *
    * NOT implemented as a join: a key+range join explodes to one row
    * per (left, earlier-right) pair before any per-left argmax can
    * prune — at 100 TB the pair blow-up is the job. Instead both
    * sides UNION into one stream tagged by side, and one window pass
    * per key (ordered by ts, right rows before left rows on ties so
    * `<=` holds, right-id ascending so equal-ts right rows resolve to
    * the LARGEST id deterministically) carries the last right row
    * forward via `last_value(ignoreNulls)`. Cost: ONE shuffle of
    * left+right on the key, no pair multiplication, no range probe.
    *
    * Output: every `left` row plus `asof_ts` / `asof_id` of the
    * matched right row (null when no right row precedes). `tolerance`
    * (same unit as the timestamps' ordering type, applied as
    * `leftTs - asof_ts <= tolerance` on epoch seconds) nulls out
    * stale matches. */
  def asofBackward(left: DataFrame, right: DataFrame, key: String,
                   leftTs: String, rightTs: String, rightId: String,
                   toleranceSec: Option[Long] = None): DataFrame =
    asofUnionWindow(left, right, key, leftTs, rightTs, rightId,
      toleranceSec, forward = false)

  /** Forward as-of join: for every LEFT row, the EARLIEST right row
    * of the same key with `rightTs >= leftTs` — next-touch
    * attribution, time-to-next-event features. Same union+window
    * shape as [[asofBackward]] with the traversal reversed (ties
    * still inclusive; equal-ts right rows resolve to the SMALLEST id
    * — the mirror of backward's largest-id rule). `toleranceSec`
    * bounds `asof_ts - leftTs`. */
  def asofForward(left: DataFrame, right: DataFrame, key: String,
                  leftTs: String, rightTs: String, rightId: String,
                  toleranceSec: Option[Long] = None): DataFrame =
    asofUnionWindow(left, right, key, leftTs, rightTs, rightId,
      toleranceSec, forward = true)

  private def asofUnionWindow(left: DataFrame, right: DataFrame, key: String,
                              leftTs: String, rightTs: String, rightId: String,
                              toleranceSec: Option[Long],
                              forward: Boolean): DataFrame = {
    val l = left.withColumn("__is_left", lit(1))
      .withColumn("__ts", col(leftTs))
      .withColumn("__rts", lit(null).cast("timestamp"))
      .withColumn("__rid", lit(null).cast("long"))
    val r = right.select(col(key), col(rightTs), col(rightId))
      .withColumn("__is_left", lit(0))
      .withColumn("__ts", col(rightTs))
      .withColumn("__rts", col(rightTs))
      .withColumn("__rid", col(rightId).cast("long"))
    val unioned = l.select(
      left.columns.map(col) ++ Seq(col("__is_left"), col("__ts"), col("__rts"), col("__rid")): _*)
      .unionByName(r.select(
        left.schema.fields.map(f =>
          if (f.name == key) col(key)
          else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq ++
          Seq(col("__is_left"), col("__ts"), col("__rts"), col("__rid")): _*))
    // Right rows sort before left rows at equal ts (so the inclusive
    // bound holds in either direction); among equal-ts right rows the
    // LAST traversed wins — ascending rid forward-in-time (backward
    // join: largest id), descending rid backward-in-time (forward
    // join: smallest id). The carried struct must be NULL (not a
    // struct of nulls) on left rows — `last(ignoreNulls)` skips null
    // values, not null fields.
    val ordering =
      if (forward) Seq(col("__ts").desc, col("__is_left"), col("__rid").desc)
      else Seq(col("__ts"), col("__is_left"), col("__rid"))
    val w = Window.partitionBy(col(key))
      .orderBy(ordering: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = unioned
      .withColumn("__asof",
        last(when(col("__is_left") === 0,
          struct(col("__rts"), col("__rid"))), ignoreNulls = true).over(w))
      .filter(col("__is_left") === 1)
    val withAsof = matched
      .withColumn("asof_ts", col("__asof.__rts"))
      .withColumn("asof_id", col("__asof.__rid"))
    val bounded = toleranceSec match {
      case Some(tol) =>
        val gap =
          if (forward) unix_timestamp(col("asof_ts")) - unix_timestamp(col(leftTs))
          else unix_timestamp(col(leftTs)) - unix_timestamp(col("asof_ts"))
        val fresh = gap <= tol
        withAsof
          .withColumn("asof_id", when(fresh, col("asof_id")))
          .withColumn("asof_ts", when(fresh, col("asof_ts")))
      case None => withAsof
    }
    bounded.select(left.columns.map(col) :+ col("asof_ts") :+ col("asof_id"): _*)
  }

  /** As-of join a fact to an SCD2 dimension. Strictness of the range
    * bounds is parameterized; reference parity = both strict
    * (`report.py:40-41`). */
  def asOfJoin(fact: DataFrame, dim: DataFrame,
               factKey: Column, dimKey: Column, factTs: Column,
               from: Column = null, to: Column = null,
               liveOnly: Boolean = true,
               strictFrom: Boolean = true, strictTo: Boolean = true,
               joinType: String = "left",
               broadcastDim: Boolean = false): DataFrame = {
    val f = Option(from).getOrElse(dim("effective_from"))
    val t = Option(to).getOrElse(dim("effective_to"))
    val lower = if (strictFrom) factTs > f else factTs >= f
    val upper = if (strictTo) factTs < t else factTs <= t
    val live = if (liveOnly) dim("deleted_flg") === "N" else lit(true)
    val cond = factKey === dimKey && lower && upper && live
    val dimSide = if (broadcastDim) broadcast(dim) else dim
    fact.join(dimSide, cond, joinType)
  }
}
