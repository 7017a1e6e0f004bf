package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** REAL-valued n-gram language-model scoring — the float log-prob
  * perplexity path a production quality filter actually runs (the
  * CCNet/KenLM recipe: score each document under a corpus LM, filter
  * or bucket by perplexity), sitting NEXT TO the exact-integer
  * bit-length skeleton (q111) that the cross-engine oracle can pin.
  *
  * The two live together under the codec discipline (the q109/q147
  * pattern): floats cannot be hash-compared across engines (libm ulps
  * — the q83 lesson), so the DECLARED query emits the integer
  * skeleton plus a flag pinning the float leg within a PROVABLE bound
  * of it, and the float arithmetic itself is spec-gated against a
  * naive Scala fold (LmScoreSpec).
  *
  * The bound: the per-document score is the conditional bigram
  * negative log-likelihood in bits,
  *
  *   nll = Σ_occurrences ( log2 cp(w1) − log2 c(w1 w2) )
  *
  * with c the corpus bigram count and cp(w1) = Σ_b c(w1, b) the
  * bigram-prefix total (the MLE p(w2|w1) = c/cp — counts come from
  * the corpus being scored, so c ≥ 1 and no backoff smoothing is
  * needed; a cross-corpus consumer plugs a smoothed count column into
  * the same shape). The integer skeleton replaces each log2 x with
  * bits(x) = ⌊log2 x⌋ + 1; the two bits terms cancel, so the
  * per-occurrence difference is frac(log2 cp) − frac(log2 c) ∈ (−1, 1)
  * STRICTLY, hence |nll − skel| < n_bigrams for every document — an
  * exact-arithmetic guarantee, not a measured tolerance. A wrong
  * float formula (missing tf weight, wrong denominator, natural log)
  * blows the bound immediately.
  *
  * Scale shape: identical to q111 — rides the persisted doc_bigrams
  * index (the tokenize pass never re-runs), corpus and prefix counts
  * are vocabulary-sized aggregates, both count joins are
  * selective-salt joins (stopword bigrams/prefixes are hot BY
  * CONSTRUCTION), scoring is one per-doc aggregate. At 100 TB this is
  * one narrow-key join pass over the index.
  */
object LmScore {

  /** Per-document conditional bigram NLL, float and integer-skeleton
    * legs in one pass.
    *
    * @param bf per-doc bigram frequencies (doc_id, bg, tf) —
    *           [[graft.queries.Indexes.bigramFrequencies]]'s shape;
    *           `bg` is the two tokens joined by one space.
    * @return (doc_id, n_bigrams, nll_bits double, skel_bits bigint) —
    *         one row per doc PRESENT in `bf` (bigram-less docs are the
    *         caller's left join, as in q111). */
  def bigramNll(bf: DataFrame): DataFrame = {
    val (docCol, bgCol, tfCol) = ("doc_id", "bg", "tf")
    val cnt = bf.groupBy(bgCol).agg(sum(col(tfCol)).as("__c"))
    val pfx = cnt
      .groupBy(split(col(bgCol), " ").getItem(0).as("__w1"))
      .agg(sum(col("__c")).as("__cp"))
    // Blanket salt, MEASURED against the hot-key variant (r15 sf10
    // same-box A/B): saltedJoinHot's sampled detection pass costs
    // more than the 16× bigram-dim replication saves at bench scale
    // (q159 11.4 → 13.1 s WORSE with detection), because the bigram
    // TYPE table is still far smaller than the doc-grain fact side.
    // Revisit only if the type/fact ratio approaches 1.
    val withC = Skew.saltedJoin(bf, cnt, bgCol,
      saltBy = col(docCol), salts = 16)
    val withCp = Skew.saltedJoinHot(
      withC.withColumn("__w1", split(col(bgCol), " ").getItem(0)),
      pfx, "__w1",
      saltBy = col(docCol), salts = 16,
      hotCap = Dedup.DefaultHotShingleCap)
    withCp.groupBy(col(docCol))
      .agg(sum(col(tfCol)).as("n_bigrams"),
        sum(col(tfCol).cast("double") *
          (log(2.0, col("__cp")) - log(2.0, col("__c")))).as("nll_bits"),
        sum(col(tfCol) *
          (length(bin(col("__cp"))) - length(bin(col("__c")))).cast("long"))
          .as("skel_bits"))
  }

  /** The declared-query gate column: 1 iff the float leg sits inside
    * the provable bound of the skeleton (vacuously 1 for a bigram-less
    * doc, where both sums are 0 over zero terms). */
  def nllWithinBound(nll: org.apache.spark.sql.Column,
                     skel: org.apache.spark.sql.Column,
                     n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(n === 0, 1)
      .when(abs(nll - skel.cast("double")) < n.cast("double"), 1)
      .otherwise(0)
}
