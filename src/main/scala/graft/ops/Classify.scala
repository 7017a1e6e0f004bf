package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Functions.portableHash64

/** Model-based quality filtering: a nearest-centroid (Rocchio)
  * classifier DISTILLED from a rule heuristic — the production
  * pattern behind classifier-based corpus curation (a cheap rule
  * labels a seed set; a model trained on those labels generalizes
  * the judgment to every document, and replaces the rule as the
  * shipping filter).
  *
  * Determinism is the design driver (the graft oracle contract), so
  * the whole pipeline stays in exact scaled-integer space — the q68
  * k-means discipline applied to supervised classification:
  *
  *   - features are hashed-bucket token counts (md5-derived 64-bit
  *     hash mod [[NumBuckets]]) summed from the persisted
  *     term-frequency index — exact integers, fixed width;
  *   - class centroids are `floor(sum · Scale / n)` — bounded driver
  *     metadata (2 rows × [[NumBuckets]] longs), identical floor
  *     division in any engine on non-negative sums;
  *   - inference compares exact bigint squared distances in the
  *     scaled space, ties resolving to the positive class.
  *
  * Scale shape: features are ONE fixed-width aggregate over the tf
  * index (map-side combine; [[NumBuckets]] columns regardless of
  * vocabulary), training is one ≤2-row collect, inference is a pure
  * map expression over the feature row — classifying 100 TB costs
  * the feature aggregate plus a map pass. A production deployment
  * swaps in more buckets and richer per-doc signals; the dataflow
  * (aggregate → bounded fit → map-expression predict) is the part
  * that has to scale, and is what q103 pins under the oracle gate.
  */
object Classify {

  /** Fixed-point scale for centroid means (the q68 convention). */
  val Scale = 1000000L

  /** Feature width. Small by design — the oracle unrolls one SQL
    * term per bucket; production would widen this, not change shape. */
  val NumBuckets = 8

  /** The feature bucket of one token: portable 64-bit hash mod
    * [[NumBuckets]] (non-negative — mirrors the oracle's
    * `md5`-derived bigint `% 8`). */
  def tokenBucket(w: Column): Column =
    pmod(portableHash64(w), lit(NumBuckets.toLong))

  /** (idCol, f0..f{B-1}) hashed-bucket count features from a
    * term-frequency table `(idCol, w, tf)` — rides the persisted tf
    * index: one fixed-width aggregate, never a per-vocabulary pivot. */
  def bucketFeatures(tf: DataFrame, idCol: String): DataFrame = {
    val aggs = (0 until NumBuckets).map { b =>
      sum(when(tokenBucket(col("w")) === b, col("tf")).otherwise(0L)).as(s"f$b")
    }
    tf.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Scaled-integer class centroids over labeled feature rows:
    * `centroid_b = floor(sum(f_b) · Scale / n)` per class — one
    * fixed-width aggregate and a ≤ class-count row collect (bounded
    * metadata, the kmeansCentroids discipline). */
  def centroidFit(train: DataFrame, labelCol: String): Map[Int, Array[Long]] = {
    val aggs = (0 until NumBuckets).map(b => sum(col(s"f$b")).as(s"s$b")) :+
      count(lit(1)).as("n")
    train.groupBy(col(labelCol).cast("int").as("__cls"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        val n = r.getLong(NumBuckets + 1)
        r.getInt(0) -> Array.tabulate(NumBuckets)(b => r.getLong(b + 1) * Scale / n)
      }.toMap
  }

  /** Exact squared distance of the (scaled) feature row to a centroid
    * literal. Magnitude bound: f_b ≤ tokens/doc (~10^3) → each term ≤
    * ~10^18·(tokens/10^3)² — inside int64 for any sane document. */
  private def dist(cent: Array[Long]): Column =
    (0 until NumBuckets).map { b =>
      val d = col(s"f$b") * Scale - lit(cent(b))
      d * d
    }.reduce(_ + _)

  /** Nearest-centroid prediction as a pure map expression over the
    * feature columns; ties resolve to class 1 (keep). Requires both
    * classes present in training (a one-class "classifier" is a
    * constant — fail loudly instead). */
  def centroidPredict(feats: DataFrame, cents: Map[Int, Array[Long]]): DataFrame = {
    require(cents.contains(0) && cents.contains(1),
      s"centroidPredict: need both classes trained, got ${cents.keys.toSeq.sorted}")
    feats.withColumn("label_model",
      when(dist(cents(1)) <= dist(cents(0)), 1).otherwise(0))
  }

  /** The projection of a feature row onto integer direction `w`. */
  private def proj(w: Array[Long]): Column =
    (0 until NumBuckets).map(b => col(s"f$b") * lit(w(b))).reduce(_ + _)

  /** LINEAR-THRESHOLD distillation — the trained-then-ship filter
    * shape behind classifier-based curation, as a deterministic
    * integer pipeline with an OPTIMAL decision boundary (Fisher's
    * linear-discriminant recipe, public: project onto the
    * between-class direction, then pick the best 1-D cut):
    *
    *   1. direction `w = μ₊ − μ₋` (the scaled centroid difference —
    *      one fixed-width aggregate, bounded metadata);
    *   2. project every doc (`p = Σ w_b·f_b`, a map expression);
    *   3. choose the threshold τ maximizing BALANCED accuracy
    *      `tp·Scale / n₊ + tn·Scale / n₋` (integer division) over ALL
    *      candidate cuts (every distinct projection value) — exact,
    *      not a grid; balanced because curation labels are heavily
    *      imbalanced and raw accuracy would crown the
    *      constant-majority model (measured: a hinge-descent
    *      prototype degenerated to exactly that here).
    *
    * The threshold scan is per-VALUE cumulative counting — on Spark
    * the two-phase shape (256 equi-width value buckets, bounded
    * offsets from a 256-row collect, one DESC window per bucket; the
    * corpus never sorts in one partition), while the oracle states
    * the plain global window — the decomposition-proof pattern q143
    * pinned, now over a signed projection. Ties: the SMALLEST τ
    * among maximal balanced accuracies, deterministic in both
    * engines. Returns (w, τ). */
  def thresholdFit(train: DataFrame, labelCol: String): (Array[Long], Long) = {
    val cents = centroidFit(train, labelCol)
    require(cents.contains(0) && cents.contains(1),
      s"thresholdFit: need both classes, got ${cents.keys.toSeq.sorted}")
    val w = Array.tabulate(NumBuckets)(b => cents(1)(b) - cents(0)(b))
    val byv = train
      .select(proj(w).as("p"), col(labelCol).cast("long").as("y"))
      .groupBy("p").agg(
        sum(col("y")).as("pc"),
        (count(lit(1)) - sum(col("y"))).as("nc"))
    val Array(mn, mx, np, nn) = byv
      .agg(min(col("p")), max(col("p")), sum(col("pc")), sum(col("nc")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    require(np > 0 && nn > 0, s"thresholdFit: one-class training set")
    // Two-phase DESC cumulative per distinct value: equi-width value
    // buckets; per-bucket totals are a ≤256-row collect whose
    // HIGHER-bucket sums become each bucket's offset; a window per
    // bucket finishes within. Exactly rankNormalize's machinery, DESC.
    val span = mx - mn + 1
    // Integral `div` throughout (Column./ is DOUBLE division):
    // operands are non-negative here, so floor == truncate == `//`.
    val bucketed = byv.withColumn("__b",
      expr(s"((p - ${mn}L) * 256) div ${span}L").cast("int"))
    val totals = bucketed.groupBy("__b")
      .agg(sum(col("pc")).as("tp"), sum(col("nc")).as("tn"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val offPos = new Array[Long](256)
    val offNeg = new Array[Long](256)
    totals.foreach { case (b, tp, tn) =>
      (0 until b).foreach { lo => offPos(lo) += tp; offNeg(lo) += tn } }
    val offP = element_at(typedlit(offPos.zipWithIndex.map {
      case (v, i) => (i, v) }.toMap), col("__b"))
    val offN = element_at(typedlit(offNeg.zipWithIndex.map {
      case (v, i) => (i, v) }.toMap), col("__b"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("p").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val best = bucketed
      .withColumn("tp", sum(col("pc")).over(win) + offP)
      .withColumn("fp", sum(col("nc")).over(win) + offN)
      .withColumn("bal",
        expr(s"(tp * $Scale) div ${np}L") +
          expr(s"(($nn - fp) * $Scale) div ${nn}L"))
      .orderBy(col("bal").desc, col("p").asc)
      .select("p").limit(1).head().getLong(0)
    (w, best)
  }

  /** Threshold prediction as a pure map expression: keep iff the
    * projection reaches τ (ties to keep, mirroring
    * [[centroidPredict]]). */
  def thresholdPredict(feats: DataFrame, w: Array[Long], tau: Long): DataFrame =
    feats.withColumn("label_model",
      when(proj(w) >= tau, 1).otherwise(0))
}
