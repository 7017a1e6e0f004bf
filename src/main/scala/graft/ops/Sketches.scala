package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Functions.portableHash64

/** Streaming-algebra frequency sketches over the corpus term table —
  * the two classic estimators the engine's sketch family still lacked
  * next to the bounded-error HLL++/percentile row (q22), the
  * count-min heavy hitters (q123) and the bloom router (q188/q203):
  *
  *   - AMS second frequency moment (Alon–Matias–Szegedy 1996): F2 =
  *     Σ n_w² estimated as the median over [[AmsGroups]] groups of the
  *     mean of [[AmsGroupSize]] independent squared sketches
  *     z_i = Σ n_w·s_i(w), s_i(w) ∈ {−1, +1} — the paper's
  *     median-of-means construction (see [[AmsGroups]] for why a
  *     plain median is biased). F2 is the self-join size / collision
  *     mass of the term distribution — the quantity a 100-TB join
  *     planner wants without shuffling the join itself.
  *   - HyperLogLog distinct count (Flajolet–Fuset–Gandouet–Meunier
  *     2007): [[HllBuckets]] registers of max leading-zero rank,
  *     harmonic-mean estimate.
  *
  * Unlike q22's engine-native sketches (HLL++ internals are opaque,
  * so that row pins exact aggregates + integer bound FLAGS), both
  * estimators here are pure integer/fixed-point arithmetic over the
  * portable md5 hash — the ESTIMATE ITSELF is oracle-hash-pinned,
  * bit-for-bit, on both engines:
  *
  *   - AMS signs are hash bits; sketch sums, their squares, the
  *     group means (trunc divisions of exact sums), and the median
  *     (the middle order statistic of an ODD group count) stay in
  *     exact BIGINT space end to end.
  *   - The HLL harmonic sum Σ 2^(−M_j) is scaled by 2^[[HllShift]]
  *     into the integer S = Σ 2^(HllShift − M_j) (registers deeper
  *     than the shift contribute 0 — a deterministic truncation of
  *     terms < 1 against a sum of ~2^HllShift·m/2^E[M], relative
  *     error < 10⁻⁴ at any supported scale), and the estimate is the
  *     constant [[HllNum]] = α_256·m²·2^HllShift·10⁶ integer-divided
  *     by S then by 10⁶. Two trunc divisions, identical on both
  *     engines. This is the RAW HLL estimator — the published
  *     small-range linear-counting correction needs ln(), so it is
  *     deliberately out of spec; the consumer (q213) keys on the
  *     corpus 3-shingle universe, which sits in the raw estimator's
  *     range (E > 2.5m) at every declared scale.
  *
  * Scale shape: both sketches are one pass over their key stream
  * (AMS over the persisted bigram index's type table; HLL over the
  * raw shingle stream — registers are multiplicity-insensitive, so
  * no distinct is ever taken) ending in a bounded aggregate —
  * [[AmsEstimators]] rows / [[HllBuckets]] registers — and both are
  * MERGEABLE (z sums add; registers max-merge), so at 1000 executors
  * they partial-aggregate map-side and ship kilobytes. SketchSpec
  * pins each against an independent in-JVM MessageDigest mirror.
  */
object Sketches {

  /** AMS is MEDIAN-OF-MEANS, not a plain median: z² ~ F2·χ²₁ is
    * skewed, so the median of many single estimators converges to
    * the χ²₁ median ≈ 0.455·F2 — a built-in −54 % bias (measured
    * here: −31 % at 15 estimators, −42 % at 127 as it converged).
    * Group means concentrate at F2 (χ²ₖ/k median ≈ 1 − 2/(9k)), and
    * the median over groups adds tail control. 9 groups × 28 puts
    * the construction near −2 % bias ± ~11 % typical error, at a
    * fan-out that is still trivial over a TYPE table and 252 longs
    * of mergeable state. Groups ODD so the median is the single
    * middle order statistic; the group mean is a trunc division of
    * the exact BIGINT sum — integer space end to end. */
  val AmsGroups = 9
  val AmsGroupSize = 28
  val AmsEstimators: Int = AmsGroups * AmsGroupSize

  /** HLL registers: 8 md5 hex bits → 256 buckets. */
  val HllBuckets = 256

  /** Rank ceiling: 56 value bits (md5 hex chars 3–16) all zero →
    * rank 57 (= leading zeros + 1). */
  val HllMaxRank = 57

  /** Fixed-point scale of the integer harmonic sum: term = 2^(shift −
    * rank), ranks beyond the shift truncate to 0. 17 keeps
    * [[HllNum]] = α·m²·2^shift·10⁶ inside BIGINT. */
  val HllShift = 17

  /** α_256 = 0.7213/(1 + 1.079/256) in parts-per-million — the
    * published bias constant for m = 256, fixed as an integer. */
  val AlphaPpm = 718274L

  /** α_256·m²·2^[[HllShift]] scaled by 10⁶: the estimate numerator.
    * 718274·2^33 = 6,169,926,679,134,208 < 2^63. */
  val HllNum: Long = AlphaPpm * (HllBuckets.toLong * HllBuckets) * (1L << HllShift)

  /** ±1 sign of word `w` under estimator column `i`: bit 0 of the
    * seeded portable hash of `ams<i>|<w>`. Oracle: `1 - 2*(h64('ams' ||
    * i || '|' || w) % 2)`. */
  def amsSign(w: Column, i: Column): Column =
    lit(1L) - lit(2L) *
      pmod(portableHash64(concat(lit("ams"), i.cast("string"), lit("|"), w)), lit(2L))

  /** The [[AmsEstimators]] sketch sums over a term-count table
    * `(w, n)` → (i, z = Σ n·s_i(w)). Each row fans out to the
    * estimator ids as a column (`explode(sequence(...))`), so the sign
    * is ONE generated expression: one literal-keyed sign per estimator
    * would grow the fused stage past the JVM's 64 KB method limit and
    * run it interpreted. Partial aggregation makes this map-side at
    * scale. */
  def amsSketch(types: DataFrame): DataFrame =
    types
      .select(col("w"), col("n"),
        explode(sequence(lit(0), lit(AmsEstimators - 1))).as("i"))
      .groupBy("i")
      .agg(sum(col("n") * amsSign(col("w"), col("i"))).cast("bigint").as("z"))

  /** Median-of-means F2 estimate over the sketch sums (one row,
    * `f2_est`): group mean = Σz² div [[AmsGroupSize]] (exact BIGINT
    * sum, trunc division), estimate = the middle order statistic of
    * the [[AmsGroups]] means. collect_list is bounded at
    * [[AmsGroups]]. */
  def amsF2Estimate(sketch: DataFrame): DataFrame =
    sketch
      .groupBy(expr(s"i div $AmsGroupSize").as("g"))
      .agg(expr(s"sum(z * z) div $AmsGroupSize").as("m"))
      .agg(element_at(sort_array(collect_list(col("m"))),
        (AmsGroups + 1) / 2).as("f2_est"))

  /** Sparse HLL registers over a distinct-key frame `(w)`: (b, mj) =
    * bucket from md5 hex chars 1–2, max rank (leading zeros + 1) of
    * the 56-bit value from chars 3–16. */
  def hllRegisters(keys: DataFrame): DataFrame =
    keys.select(md5(col("w")).as("h"))
      .select(
        conv(substring(col("h"), 1, 2), 16, 10).cast("long").as("b"),
        conv(substring(col("h"), 3, 14), 16, 10).cast("long").as("x"))
      .select(col("b"),
        when(col("x") === 0L, lit(HllMaxRank))
          .otherwise(lit(HllMaxRank) - length(bin(col("x")))).as("mj"))
      .groupBy("b").agg(max("mj").as("mj"))

  /** The integer-harmonic estimate over sparse registers: densify to
    * all [[HllBuckets]] buckets (empty → rank 0), S = Σ 2^(shift −
    * mj), estimate = [[HllNum]] div S div 10⁶ (one row, `n_est`). */
  def hllEstimate(spark: SparkSession, registers: DataFrame): DataFrame =
    spark.range(0, HllBuckets.toLong).toDF("b")
      .join(registers, Seq("b"), "left")
      .select(coalesce(col("mj"), lit(0)).as("mj"))
      .agg(sum(when(col("mj") <= HllShift,
        expr(s"shiftleft(cast(1 as bigint), cast($HllShift - mj as int))"))
        .otherwise(0L)).as("s"))
      .select(expr(s"$HllNum div s div 1000000").as("n_est"))

  // ------------------------------------------------------------- KMV

  /** KMV (k-minimum-values, Bar-Yossef et al. 2002 / the theta-sketch
    * construction): keep the [[KmvK]] smallest DISTINCT hashes per
    * group. Unlike HLL registers, the retained hashes support SET
    * OPERATIONS — merge two groups' sketches, re-take the k minima,
    * and the union estimate falls out of the same formula, while the
    * k-minima common to both sides estimate the intersection
    * (theta-style: ρ·D_union) — distinct-overlap between corpora
    * without the corpus-wide distinct-join shuffle. Estimator:
    * D ≈ (k−1)·M div h_(k) with h_(k) the k-th minimum over hash
    * range M; when a group holds fewer than k distinct hashes the
    * sketch IS the distinct set and the exact count is returned.
    * Pure integer arithmetic end to end → oracle-hash-pinnable. */
  val KmvK = 512

  /** Hash width 52 bits (md5 hex chars 1–13) — narrower than the
    * house 60-bit [[portableHash64]] so the estimate numerator
    * (k−1)·2^52 = 511·2^52 ≈ 2.3e18 stays inside BIGINT. */
  val KmvBits = 52

  /** (k−1)·M: the estimate numerator. */
  val KmvNum: Long = (KmvK - 1).toLong << KmvBits

  /** 52-bit portable hash. Oracle:
    * `('0x' || substr(md5(w), 1, 13))::BIGINT`. */
  def kmvHash52(c: Column): Column =
    conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  /** Per-group KMV sketch over a keyed frame `(g, w)`: the [[KmvK]]
    * smallest distinct hashes per group, as `(g, h)`. The per-group
    * rank's sort input is the group's distinct-hash TYPE table; any
    * prefilter `h < T` with T above the true k-th minimum is
    * semantically invisible, so at 100-TB scale the scan pushes
    * `h < 2·safety·k·M/D_lower` (from any cheap engine-side distinct
    * lower bound) down to the source and the sort sees ~k·safety
    * rows — the result, and hence the oracle, cannot tell. Sketches
    * are mergeable: the k minima of A ∪ B are the k minima of the
    * two sketches' union (SketchSpec pins the law). */
  def kmvSketch(keyed: DataFrame): DataFrame =
    keyed.select(col("g"), kmvHash52(col("w")).as("h"))
      .distinct()
      .withColumn("r", row_number().over(Window.partitionBy("g").orderBy("h")))
      .filter(col("r") <= KmvK)
      .drop("r")

  /** Distinct-count estimate per group (one row per g, `d_est`):
    * exact count when the sketch is not full, else
    * [[KmvNum]] div h_(k). */
  def kmvEstimate(sketch: DataFrame): DataFrame =
    sketch.groupBy("g")
      .agg(count(lit(1)).as("cnt"), max("h").as("hk"))
      .select(col("g"),
        when(col("cnt") < KmvK, col("cnt"))
          .otherwise(expr(s"$KmvNum div hk")).as("d_est"))

  /** Pairwise set-operation estimates from per-group sketches: for
    * every unordered group pair (s1 < s2), `union_est` (the KMV
    * estimate over the merged sketches' k minima) and `inter_est`
    * (theta-style: n_ab·union_est div k, where n_ab counts the
    * merged k minima present in BOTH sides — membership below the
    * union's threshold is fully known because that threshold is ≤
    * either side's own k-th minimum). When the merged sketch is not
    * full both inputs were exact sets, so both estimates degrade to
    * exact counts. Everything here is SKETCH-space — (#groups choose
    * 2)·k rows, corpus-size-independent — with the bounded pair
    * frame broadcast. */
  def kmvPairEstimates(sketch: DataFrame): DataFrame = {
    val gs = sketch.select(col("g")).distinct()
    val pairs = broadcast(
      gs.select(col("g").as("s1"))
        .join(gs.select(col("g").as("s2")), col("s1") < col("s2")))
    val u = pairs.join(sketch.withColumnRenamed("g", "s1"), "s1")
      .select("s1", "s2", "h")
      .unionByName(pairs.join(sketch.withColumnRenamed("g", "s2"), "s2")
        .select("s1", "s2", "h"))
    u.groupBy("s1", "s2", "h")
      .agg(count(lit(1)).as("ng"))
      .withColumn("r",
        row_number().over(Window.partitionBy("s1", "s2").orderBy("h")))
      .filter(col("r") <= KmvK)
      .groupBy("s1", "s2")
      .agg(count(lit(1)).as("cu"), max("h").as("hku"),
        sum(when(col("ng") === 2, 1L).otherwise(0L)).as("nab"))
      .select(col("s1"), col("s2"),
        when(col("cu") < KmvK, col("cu"))
          .otherwise(expr(s"$KmvNum div hku")).as("union_est"),
        when(col("cu") < KmvK, col("nab"))
          .otherwise(expr(s"(nab * ($KmvNum div hku)) div $KmvK"))
          .as("inter_est"))
  }

  // ------------------------------------------- log2 quantile histogram

  /** Log2 (HDR-style) histogram over a non-negative value frame `(v)`:
    * bucket j = bit-length of v (floor(log2 v) + 1; j = 0 for v = 0),
    * per-bucket counts `(j, n)`. State is ≤ 64 longs regardless of
    * corpus size, counts are additive (mergeable), and any quantile
    * estimate from it carries at most a 2× relative value error — the
    * telemetry trade. Oracle: `length(bin(v))` is the identical
    * bit-length on DuckDB. */
  def log2Histogram(vals: DataFrame): DataFrame =
    vals.select(when(col("v") <= 0, lit(0))
        .otherwise(length(bin(col("v")))).as("j"))
      .groupBy("j").agg(count(lit(1)).as("n"))

  /** Midpoint of log2 bucket j — the bucket's quantile estimate:
    * (2^(j−1) + 2^j − 1) div 2, closed-form as 3·2^(j−2) − 1 for
    * j ≥ 2 (exact integer arithmetic — no double division), 1 for
    * j = 1, 0 for the zero bucket. */
  def log2Midpoint(j: Column): Column =
    when(j <= 0, lit(0L)).when(j === 1, lit(1L))
      .otherwise(lit(3L) *
        call_function("shiftleft", lit(1L), (j - 2).cast("int")) - 1L)
      .cast("long")
}
