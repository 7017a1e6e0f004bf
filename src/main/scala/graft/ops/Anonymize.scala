package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Privacy screens for training-data release: k-anonymity and
  * l-diversity over quasi-identifier (QI) columns. A record is
  * k-anonymous when at least `k` records share its QI tuple (the
  * re-identification blast radius); a QI group is l-diverse when its
  * SENSITIVE attribute takes at least `l` distinct values (a
  * k-anonymous group whose members all share one diagnosis still
  * leaks it). Both are release gates a corpus pipeline runs after PII
  * scrubbing ([[TextAnalysis.scrubPii]] removes direct identifiers;
  * these bound what the remaining quasi-identifiers give away).
  *
  * Scale shape: [[profile]] is ONE hash aggregation over the QI key —
  * partial aggregation applies, and distinct-sensitive counting is
  * Spark's standard two-phase expand. Nothing here is per-row state:
  * 100 TB profiles in one shuffle.
  */
object Anonymize {

  /** Per-QI-group privacy profile: group size `n`, distinct sensitive
    * values `n_sensitive`, and integer `k_ok` / `l_ok` release flags.
    * The release decision view — feed it to monitoring, or join it
    * back to decide generalization levels. */
  def profile(df: DataFrame, qi: Seq[Column], sensitive: Column,
              k: Long, l: Long): DataFrame = {
    require(k >= 1 && l >= 1, s"profile: k and l must be >= 1, got k=$k l=$l")
    df.groupBy(qi: _*)
      .agg(
        count(lit(1)).as("n"),
        countDistinct(sensitive).as("n_sensitive"))
      .withColumn("k_ok", when(col("n") >= k, 1).otherwise(0).cast("int"))
      .withColumn("l_ok", when(col("n_sensitive") >= l, 1).otherwise(0).cast("int"))
  }

  /** Deterministic keyed pseudonymization: replace an identifier with
    * a salted portable hash. One function of (salt, key) — so the
    * SAME key maps to the SAME pseudonym in every table it appears
    * in, preserving referential integrity (joins, per-entity
    * aggregates, sessionization all still work on the pseudonymized
    * release), while the raw identifier never leaves the pipeline.
    * 60-bit space: collisions are ~n²/2^61 — negligible below ~10^8
    * entities, and a release pipeline that needs more uses the full
    * md5. A pure map expression — no shuffle, no state, and the salt
    * is the only secret (rotate it per release to unlink releases). */
  def pseudonym(key: Column, salt: String): Column =
    graft.functions.Functions.portableHash64(
      concat_ws(":", lit(salt), key.cast("string")))
}
