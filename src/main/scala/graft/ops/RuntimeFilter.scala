package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Semi-join reduction via a bloom filter — the explicit form of the
  * runtime shuffle filter (Spark injects one automatically only for
  * shuffle joins it can prove selective at plan time; a pipeline that
  * KNOWS its key set is selective states it here and keeps the
  * reduction under test).
  *
  * Shape at 100 TB: the key-side sketch builds DISTRIBUTED
  * (`bloom_filter_agg` partials merge like any aggregate — registered
  * by [[graft.GraftExtensions]] from Spark's own runtime-filter
  * machinery); only the finished sketch (bounded by [[BloomBits]],
  * 128 KiB) lands on the driver and re-enters the plan as a
  * BINARY LITERAL — the [[Similarity.MaxCentroids]] collect
  * discipline: bounded by construction, never data-proportional. The
  * fact side then drops non-matching rows INSIDE its scan stage
  * (`might_contain` is a plain codegen'd filter), so the exact
  * semi-join that follows shuffles only true matches plus the bloom's
  * false-positive tail instead of the full fact table. Results are
  * EXACTLY the plain semi join's — the exact join clears false
  * positives — which is what lets q84's uncapped SQL oracle stay
  * byte-identical.
  */
object RuntimeFilter {

  /** Sketch size: expected items and bits, inside Spark's own
    * runtime-filter creation limits (2^26 bits, 4M items — a sketch is
    * a plan literal; an unbounded one is a driver OOM). */
  val BloomItems: Long = 100000L
  val BloomBits: Long = 1L << 20

  /** Build the key-side sketch: distributed aggregate, bounded
    * driver-side result. Returns null when `keys` is empty (no rows →
    * the aggregate yields no sketch). */
  def buildBloom(keys: DataFrame, key: Column): Array[Byte] =
    keys
      .agg(call_function("bloom_filter_agg", xxhash64(key),
        lit(BloomItems), lit(BloomBits)).as("bf"))
      .collect()(0).getAs[Array[Byte]](0)

  /** Probe-side prune: keep rows the sketch MIGHT contain (all true
    * matches plus false positives — callers needing exact semantics
    * follow with the exact join, as [[bloomSemiJoin]] does). */
  def bloomPrune(fact: DataFrame, key: Column, bloom: Array[Byte]): DataFrame = {
    require(bloom != null, "bloomPrune: null sketch (empty key set?)")
    fact.filter(call_function("might_contain", lit(bloom), xxhash64(key)))
  }

  /** Exact semi join with the bloom prefilter in front: fact rows
    * whose `keyCol` appears in `keys`, with the fact side pruned
    * before the join's shuffle/broadcast. Row-identical to
    * `fact.join(keys, Seq(keyCol), "left_semi")` by construction. */
  def bloomSemiJoin(fact: DataFrame, keys: DataFrame, keyCol: String): DataFrame = {
    val bloom = buildBloom(keys.select(col(keyCol)), col(keyCol))
    if (bloom == null) fact.filter(lit(false)) // empty key set → empty semi join
    else bloomPrune(fact, col(keyCol), bloom)
      .join(keys.select(col(keyCol)), Seq(keyCol), "left_semi")
  }
}
