package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Functions.portableHash64

/** Deterministic sampling for training-data pipelines.
  *
  * Corpus curation constantly re-balances strata (downsample the
  * dominant language/source, keep the rare ones) — and at 100 TB the
  * sample must be DETERMINISTIC: `rand()`-based sampling changes under
  * task retry and replay, which silently breaks dataset lineage and
  * dedup-against-previous-runs. Membership here is a pure function of
  * the row's id: keep a row iff its portable 64-bit hash, reduced mod
  * [[Sampling.Denom]], falls under the stratum's rate threshold.
  *
  * Scale shape: a map-side filter — no shuffle, no count pass, no
  * per-stratum state. The rate table is a literal CASE chain (bounded
  * by construction: strata are languages/sources, not keys). The same
  * hash runs on any engine, so samples reproduce bit-for-bit off-Spark
  * (the q53 DuckDB oracle computes the identical membership).
  */
object Sampling {

  /** Rate denominator: rates are applied as integer thresholds out of
    * 10^6 (exact — no float comparison at the keep/drop boundary). */
  val Denom = 1000000L

  private def threshold(strataCol: String, rates: Map[String, Double],
                        defaultRate: Double): Column =
    rates.toSeq.sortBy(_._1).foldLeft(lit((defaultRate * Denom).toLong)) {
      case (acc, (stratum, rate)) =>
        when(col(strataCol) === stratum, lit((rate * Denom).toLong)).otherwise(acc)
    }

  /** The sampling hash: uniform in [0, Denom), deterministic in the id. */
  def sampleKey(idCol: Column): Column =
    pmod(portableHash64(idCol.cast("string")), lit(Denom))

  /** Keep each row with its stratum's probability, deterministically.
    * `rates` maps stratum value → keep rate in [0, 1]; unlisted strata
    * use `defaultRate`. */
  def stratifiedSample(df: DataFrame, strataCol: String, idCol: String,
                       rates: Map[String, Double],
                       defaultRate: Double): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be within [0, 1]")
    df.filter(sampleKey(col(idCol)) < threshold(strataCol, rates, defaultRate))
  }

  /** Temperature-style resampling: each row is emitted
    * `⌊factor⌋ + (0 or 1)` times, where the fractional extra copy is
    * decided by the same deterministic hash as [[stratifiedSample]] —
    * factor 2.5 yields 2 or 3 copies, factor 0.4 yields 0 or 1 (so
    * this generalizes downsampling), and expected multiplicity equals
    * the factor exactly. Copies carry a `copy_idx` (1-based) so
    * downstream shuffles/splits treat them as distinct rows.
    *
    * The integer copy floors and fractional thresholds are computed
    * DRIVER-SIDE and embedded as literals, so an oracle on another
    * engine reproduces membership with integer comparisons only — no
    * cross-engine float arithmetic at the keep/drop boundary. Still a
    * pure map pass (explode of a bounded sequence, no shuffle). */
  def resample(df: DataFrame, strataCol: String, idCol: String,
               factors: Map[String, Double],
               defaultFactor: Double): DataFrame = {
    require((factors.values ++ Seq(defaultFactor)).forall(f => f >= 0 && f <= 100),
      "factors must be within [0, 100]")
    def parts(f: Double): (Long, Long) =
      (math.floor(f).toLong, ((f - math.floor(f)) * Denom).round)
    val (defBase, defFrac) = parts(defaultFactor)
    val (baseCol, fracCol) = factors.toSeq.sortBy(_._1)
      .foldLeft((lit(defBase), lit(defFrac))) {
        case ((b, fr), (stratum, f)) =>
          val (fb, ff) = parts(f)
          (when(col(strataCol) === stratum, lit(fb)).otherwise(b),
            when(col(strataCol) === stratum, lit(ff)).otherwise(fr))
      }
    val copies = baseCol + when(sampleKey(col(idCol)) < fracCol, 1L).otherwise(0L)
    // sequence(1, 0) would generate a DESCENDING range — guard empties.
    df.withColumn("copy_idx",
      explode(when(copies >= 1, sequence(lit(1L), copies))
        .otherwise(array().cast("array<bigint>"))))
  }

  /** Token-budget mixture sampling: keep documents per stratum, in
    * deterministic hash order, until the stratum's token budget is
    * reached — the "take N billion tokens of web, M of code" domain-
    * mixing step of a pre-training data recipe. Hash order makes the
    * selection a uniform sample of the stratum (not a prefix of its
    * natural/ingest order) that reproduces under retry and on any
    * engine; a document straddling the boundary is dropped (budgets
    * are honored as hard caps). Emits `cum_tok` — the running token
    * total through each kept document.
    *
    * Scale shape: one prefix-sum window per stratum — a single
    * shuffle by `strataCol`. Strata are sources/domains (bounded,
    * but each potentially huge): at 100 TB the production spelling
    * splits each stratum into hash shards with per-shard quotas
    * (budget/nShards each), which this same function computes with a
    * composite (stratum, shard) key — the global selection then
    * deviates from the per-stratum cap by at most one document per
    * shard. */
  def tokenBudget(df: DataFrame, strataCol: String, idCol: String,
                  tokCol: Column, budgets: Map[String, Long],
                  defaultBudget: Long): DataFrame = {
    require((budgets.values ++ Seq(defaultBudget)).forall(_ >= 0),
      "budgets must be non-negative")
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(defaultBudget)) {
      case (acc, (stratum, b)) =>
        when(col(strataCol) === stratum, lit(b)).otherwise(acc)
    }
    // Explicit ROWS frame: the default RANGE frame would hand every
    // row tied on (sampleKey, id) the peers-inclusive cum_tok, which
    // can drop all tied boundary docs where the oracle's ROWS frame
    // keeps some. Ties require duplicate idCol values, but the frame
    // should match the oracle regardless of key uniqueness.
    val w = Window.partitionBy(col(strataCol))
      .orderBy(sampleKey(col(idCol)), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tok", tokCol.cast("bigint"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= budget)
  }

  /** The rate-derivation half of [[mixtureResample]], reusable over
    * any per-stratum token-total frame (batch aggregate or the final
    * state of a streaming running total — q122): `agg` must carry
    * `strataCol` and a bigint `tot`; returns it extended with `wt`
    * (integer sqrt of tot — floor(hardware sqrt) ± 1 correction,
    * exact), `target_tok` (budget split ∝ wt, integer div) and `ppm`
    * (per-token emission rate). The weight sum is a 1-row aggregate
    * over the bounded stratum frame — broadcast-crossJoined back
    * (the q22 quantile-bounds pattern), kept on-engine: no collect,
    * no global window.
    *
    * Overflow envelope: `budget · wt` must stay under 2^63 — with
    * wt = isqrt(tokens) ≤ ~10^7 against 100 TB-scale strata, that
    * caps budget at ~9·10^11 tokens (NOT 10^12: 10^12·10^7 = 10^19
    * overflows a long). A larger recipe splits the budget per shard
    * first. The isqrt correction's (s0+1)² likewise needs
    * tot < 2^62 — any real token total fits. */
  def mixtureRates(agg: DataFrame, strataCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"mixtureRates: budget=$budget")
    val pos = agg.filter(col("tot") > 0)
    val s0 = floor(sqrt(col("tot").cast("double"))).cast("bigint")
    val wtd = pos.withColumn("s0", s0)
      .withColumn("wt",
        when((s0 + 1) * (s0 + 1) <= col("tot"), s0 + 1)
          .when(s0 * s0 > col("tot"), s0 - 1)
          .otherwise(s0))
      .drop("s0")
    val wsum = wtd.agg(sum(col("wt")).cast("bigint").as("wsum"))
    wtd.crossJoin(broadcast(wsum))
      .withColumn("target_tok", expr(s"($budget * wt) div wsum"))
      .withColumn("ppm", expr(s"(target_tok * ${Denom}) div tot"))
      .drop("wsum")
  }

  /** Temperature-scaled mixture resampling with weights DERIVED from
    * the corpus — the domain-rebalancing step of a pre-training data
    * recipe where the mixture is computed, not hand-written: each
    * stratum's sampling weight is `tokens^α` (α = 1/2 here — the
    * standard "temperature" that upweights rare domains), the global
    * token `budget` is split across strata proportional to those
    * weights ([[mixtureRates]], including its overflow envelope), and
    * each document is then emitted enough times (in expectation,
    * exactly `target/total` times) to hit its stratum's share.
    * Contrast [[resample]]/[[tokenBudget]], whose factors and budgets
    * are caller literals: here the rates fall out of a corpus
    * aggregate inside the same query.
    *
    * Exactness discipline: the isqrt/div chain is [[mixtureRates]]';
    * the per-document copy count is the [[resample]] floor +
    * hash-threshold scheme with a parts-per-million rate. No float
    * ever reaches a keep/drop boundary, so any engine replays the
    * selection bit-for-bit.
    *
    * Scale shape: one partial-agg shuffle for the per-stratum token
    * totals (bounded output — strata are domains/languages), the
    * bounded rate derivation, a broadcast join of the rate table back
    * onto the corpus, and a map-side explode. The corpus lineage
    * (including `tokCol`'s tokenize) is evaluated twice — once for
    * the totals, once under the broadcast join; callers whose token
    * expression is expensive and who reuse the frame should persist
    * upstream (the declared queries feed cheap `size(split(...))`
    * scores, where a second columnar scan is cheaper than
    * materializing the corpus). */
  def mixtureResample(df: DataFrame, strataCol: String, idCol: String,
                      tokCol: Column, budget: Long): DataFrame = {
    require(budget > 0, s"mixtureResample: budget=$budget")
    val toks = df.withColumn("n_tok", tokCol.cast("bigint"))
    val agg = toks.groupBy(col(strataCol))
      .agg(sum(col("n_tok")).cast("bigint").as("tot"))
    val rates = mixtureRates(agg, strataCol, budget)
      .select(col(strataCol), col("tot"), col("target_tok"), col("ppm"))
    val joined = toks.join(broadcast(rates), Seq(strataCol))
    val copies = expr(s"ppm div ${Denom}") +
      when(sampleKey(col(idCol)) < pmod(col("ppm"), lit(Denom)), 1L)
        .otherwise(0L)
    joined.withColumn("copy_idx",
      explode(when(copies >= 1, sequence(lit(1L), copies))
        .otherwise(array().cast("array<bigint>"))))
  }

  /** Hash shards of [[ppsSample]]'s prefix-sum windows. */
  val PpsShards = 32

  /** Probability-proportional-to-size (PPS) systematic sampling by
    * token mass: lay documents head-to-tail in deterministic hash
    * order and pick every document whose token interval contains a
    * multiple of `step` — inclusion probability `n_tok/step`, i.e.
    * the classic "sample every S-th TOKEN's containing document"
    * eval-set primitive (long documents proportionally more likely;
    * a document longer than `step` is picked with multiplicity,
    * reported as `n_hits`). Contrast [[tokenBudget]], which keeps a
    * uniform hash-prefix of documents: PPS weights by size.
    *
    * Integer-exact: multiples of `step` in the half-open interval
    * [cum−n, cum) count as `g(cum−1) − g(cum−n−1)` with
    * g(x) = max(x, 0) div step — no floats, no negative division
    * (Spark `div` truncates toward zero while other engines floor,
    * so negatives never reach a division).
    *
    * Scale shape: [[PpsShards]] hash shards, each with an independent
    * prefix-sum window — the [[tokenBudget]] sharding discipline
    * built in rather than left to the caller. Selection is exact per
    * shard (every shard's token stream is sampled at the same rate),
    * and no shard ever holds more than ~1/[[PpsShards]] of the corpus
    * in one sort partition. */
  def ppsSample(df: DataFrame, idCol: String, tokCol: Column,
                step: Long): DataFrame = {
    require(step > 0, s"ppsSample: step=$step")
    val w = Window.partitionBy(col("shard"))
      .orderBy(sampleKey(col(idCol)), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tok", tokCol.cast("bigint"))
      .withColumn("shard", pmod(sampleKey(col(idCol)), lit(PpsShards.toLong)))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .withColumn("n_hits",
        expr(s"greatest(cum_tok - 1, 0) div $step") -
          expr(s"greatest(cum_tok - n_tok - 1, 0) div $step"))
      .filter(col("n_hits") >= 1)
  }

  /** Per-stratum rank normalization (percent-rank in parts-per-
    * million) — the cross-domain score-calibration step: a raw
    * quality/fluency score is only comparable across languages or
    * sources after mapping each stratum's scores onto [0, 10⁶] by
    * rank, so ONE global threshold ("keep the top 40 %") means the
    * same thing in every stratum. Integer-exact: ranks are integers,
    * the ppm is an integer division, and the (score, id) total order
    * ties identically on any engine.
    *
    * The 100 TB shape is the point (the [[shardAssignment]]
    * discipline generalized to VALUE order): a naive
    * `row_number() OVER (PARTITION BY stratum ORDER BY score)` sorts
    * each whole stratum in ONE partition — a single task per
    * language at corpus scale. Instead: (1) per-stratum min/max/count
    * (one bounded aggregate); (2) each row maps to one of 256
    * equal-width integer score buckets — monotone in score, so
    * bucket order IS score order; (3) per-(stratum, bucket) counts
    * (bounded: |strata|·256 rows) prefix-sum into exact bucket
    * offsets on-engine; (4) ONE window partitioned by
    * (stratum, bucket) ranks within buckets — 256-way parallel per
    * stratum, never a stratum-global sort. Equal-width buckets can
    * skew under pathological score distributions (all mass in one
    * bucket degrades toward the naive shape, still correct); the
    * production dial is more buckets or a first-pass equi-depth
    * boundary estimate (q89's machinery). Overflow: (score−min)·256
    * needs score range < 2^55 — any real score fits.
    *
    * Returns the SLIM frame only — (`strataCol`, `idCol`, `score`,
    * `rnk`, `pct_ppm`); callers needing other source columns join
    * back on `idCol`. */
  def rankNormalize(df: DataFrame, strataCol: String, idCol: String,
                    scoreCol: Column): DataFrame = {
    // Slim projection, materialized ONCE (eager localCheckpoint — the
    // Bpe/q99 lineage-truncation discipline): the frame feeds three
    // consumers (extrema aggregate, bucket-count aggregate, final
    // ranked join) whose exchanges differ, so an unmaterialized
    // lineage — typically a tokenize over the corpus — would be
    // recomputed three times. Three narrow columns per row is the
    // whole storage cost; callers needing other columns join back on
    // `idCol`.
    val s = df
      .select(col(strataCol), col(idCol), scoreCol.cast("bigint").as("score"))
      .localCheckpoint(true)
    val ext = s.groupBy(col(strataCol)).agg(
      min(col("score")).as("__mn"), max(col("score")).as("__mx"),
      count(lit(1)).as("__n"))
    val b = s.join(broadcast(ext), Seq(strataCol))
      .withColumn("__b", when(col("__mx") === col("__mn"), lit(0L))
        .otherwise(expr("((score - __mn) * 256) div (__mx - __mn + 1)")))
    val offs = b.groupBy(col(strataCol), col("__b"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(
        sum(col("__c")).over(Window.partitionBy(col(strataCol))
          .orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(strataCol), col("__b"), col("__off"))
    val w = Window.partitionBy(col(strataCol), col("__b"))
      .orderBy(col("score"), col(idCol))
    b.join(broadcast(offs), Seq(strataCol, "__b"))
      .withColumn("rnk", col("__off") + row_number().over(w).cast("long") - 1L)
      .withColumn("pct_ppm", expr("(rnk * 1000000) div greatest(__n - 1, 1)"))
      .drop("__b", "__mn", "__mx", "__n", "__off", "__c")
  }

  /** Per-stratum rank AND running-weight prefix sum in one pass — the
    * quota-fill primitive: ordering a stratum's documents by a score
    * and asking "how many tokens precede this row?" is how a source's
    * token quota is filled with its best members (q165). Returns the
    * slim frame (`strataCol`, `idCol`, `score`, `w`, `rnk`, `cw`)
    * where `rnk` is the 0-based (score, id) rank within the stratum
    * and `cw` the exact sum of `w` over strictly-preceding rows.
    *
    * Same 100 TB decomposition as [[rankNormalize]] (it is that
    * machinery generalized from COUNT prefix to WEIGHT prefix): 256
    * monotone score buckets per stratum, bounded per-(stratum,
    * bucket) count+weight subtotals prefix-summed into exact offsets,
    * ONE window partitioned by (stratum, bucket) for the intra-bucket
    * rank and running weight — never a stratum-global sort partition.
    * Both intra-bucket frames share one window spec, so the plan
    * carries a single WindowExec. Descending order is the caller
    * negating `scoreCol` (exact on bigint). Weights must be
    * non-negative for `cw` to be monotone (quota fill relies on it;
    * the arithmetic itself is exact either way). */
  def rankAndCumsum(df: DataFrame, strataCol: String, idCol: String,
                    scoreCol: Column, weightCol: Column): DataFrame = {
    // Slim projection materialized once (the rankNormalize
    // discipline): extrema, bucket subtotals, and the final ranked
    // join all re-read it.
    val s = df
      .select(col(strataCol), col(idCol),
        scoreCol.cast("bigint").as("score"),
        weightCol.cast("bigint").as("w"))
      .localCheckpoint(true)
    val ext = s.groupBy(col(strataCol)).agg(
      min(col("score")).as("__mn"), max(col("score")).as("__mx"))
    val b = s.join(broadcast(ext), Seq(strataCol))
      .withColumn("__b", when(col("__mx") === col("__mn"), lit(0L))
        .otherwise(expr("((score - __mn) * 256) div (__mx - __mn + 1)")))
    val bw = Window.partitionBy(col(strataCol))
      .orderBy(col("__b")).rowsBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy(col(strataCol), col("__b"))
      .agg(count(lit(1)).as("__c"), sum(col("w")).as("__wc"))
      .withColumn("__off", coalesce(sum(col("__c")).over(bw), lit(0L)))
      .withColumn("__woff", coalesce(sum(col("__wc")).over(bw), lit(0L)))
      .select(col(strataCol), col("__b"), col("__off"), col("__woff"))
    val w = Window.partitionBy(col(strataCol), col("__b"))
      .orderBy(col("score"), col(idCol))
    b.join(broadcast(offs), Seq(strataCol, "__b"))
      .withColumn("rnk", col("__off") + row_number().over(w).cast("long") - 1L)
      .withColumn("cw", col("__woff") + coalesce(
        sum(col("w")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(strataCol), col(idCol), col("score"), col("w"),
        col("rnk"), col("cw"))
  }

  /** Integer water-filling token-budget allocation — the mixture
    * PLANNING step of dataset assembly: given each stratum's
    * available weight (tokens), split a total budget of
    * `⌊total·budgetNum/budgetDen⌋` as evenly as possible WITHOUT
    * over-asking any stratum — small strata are kept whole, the
    * remainder levels across the rest (the classic water-fill, done
    * in exact integer arithmetic so any engine reproduces it
    * bit-for-bit). Returns (`strataCol`, `avail`, `quota`,
    * `fully_kept`); Σ quota = min(budget, Σ avail) and
    * quota ≤ avail per row.
    *
    * The deterministic integer definition (the spec, mirrored by the
    * q164 oracle): order strata by (avail, name) ascending with
    * 1-based position k and prefix sum cb; a stratum is FULLY KEPT
    * iff k ≤ p where p is the largest k with
    * `avail_k·(n−k+1) + cb_k ≤ budget` (the standard fully-served
    * prefix; 0 if none). The remaining pool `budget − Σ_{k≤p} avail`
    * levels over the n−p others as `⌊pool/(n−p)⌋`, with the mod
    * remainder granted one unit each to the first `pool mod (n−p)`
    * of them in the same order — so quotas are exact integers, not
    * rounded shares.
    *
    * Scale shape: `avail` is stratum-grain metadata (one row per
    * source/language/domain-bucket), but it is NOT collected — the
    * prefix machinery is [[rankAndCumsum]] (bounded bucket offsets,
    * no global sort), the three scalar parameters (n/budget, p,
    * absorbed sum) are 1-row aggregates broadcast back, so the op
    * holds even at millions of domain-grain strata. Requires
    * non-negative avail, max(avail)·n < 2⁶³, and Σavail·budgetNum
    * < 2⁶³ — the second product is CHECKED IN-PLAN at the 1-row
    * parameter aggregate (a silent wraparound there would misallocate
    * every quota downstream; any real token total with a small
    * rational budget fits comfortably, so the raise only fires on a
    * genuinely out-of-contract call). */
  def waterFillQuota(avail: DataFrame, strataCol: String, availCol: String,
                     budgetNum: Long, budgetDen: Long): DataFrame = {
    require(budgetNum >= 0 && budgetDen > 0,
      s"waterFillQuota: budget $budgetNum/$budgetDen")
    val a = avail
      .select(col(strataCol), col(availCol).cast("bigint").as("__av"))
      .withColumn("__g", lit(0))
    // rnk = k−1 in (avail, stratum) order; cw = Σ avail over k'<k.
    val rk = rankAndCumsum(a, "__g", strataCol, col("__av"), col("__av"))
      .drop("__g")
    // The ranked frame feeds three consumers (p, absorbed sum, final
    // select) — pin it once; it is stratum-grain, never corpus-grain.
    val fl = rk.localCheckpoint(true)
    // Guard the only multiplication the documented preconditions do
    // not already bound: __t = Σ avail times budgetNum. The CASE folds
    // the check into __bud itself so no optimizer pass can prune it.
    val budExpr =
      if (budgetNum <= 1L) s"(__t * $budgetNum) div $budgetDen"
      else s"CASE WHEN __t > ${Long.MaxValue / budgetNum}L THEN " +
        s"CAST(raise_error(concat('waterFillQuota: sum(avail)=', __t, " +
        s"' * budgetNum=$budgetNum overflows int64')) AS BIGINT) " +
        s"ELSE (__t * $budgetNum) div $budgetDen END"
    val par = fl.agg(count(lit(1)).as("__n"), coalesce(sum(col("w")), lit(0L))
        .as("__t"))
      .select(col("__n"), expr(budExpr).as("__bud"))
    val p = fl.crossJoin(broadcast(par))
      .filter(col("w") * (col("__n") - col("rnk")) + col("cw") <= col("__bud"))
      .agg(coalesce(max(col("rnk") + 1L), lit(0L)).as("__p"))
    val absorbed = fl.crossJoin(broadcast(p))
      .filter(col("rnk") < col("__p"))
      .agg(coalesce(sum(col("w")), lit(0L)).as("__abs"))
    val lvl = par.crossJoin(p).crossJoin(absorbed)
      .select(col("__p"),
        expr("(__bud - __abs) div greatest(__n - __p, 1)").as("__lvl"),
        expr("(__bud - __abs) % greatest(__n - __p, 1)").as("__rest"))
    fl.crossJoin(broadcast(lvl))
      .select(col(strataCol), col("w").as("avail"),
        when(col("rnk") < col("__p"), col("w"))
          .otherwise(col("__lvl") +
            when(col("rnk") + 1L - col("__p") <= col("__rest"), 1L)
              .otherwise(0L)).as("quota"),
        when(col("rnk") < col("__p"), 1).otherwise(0)
          .cast("int").as("fully_kept"))
  }

  /** Deterministic corpus shuffle → fixed-size training shards: every
    * pretraining run's final assembly step (a stable pseudo-random
    * visit order, cut into shards a data loader streams). Order is
    * md5(id) with the id as tie-break — reproducible across runs,
    * engines, and partitionings; `shard = pos / shardSize`,
    * `pos_in_shard = pos % shardSize`.
    *
    * The 100 TB shape is the point: a naive global `row_number()`
    * window is ONE sort partition — the whole corpus through a single
    * task. Instead, two phases: (1) bucket rows by the FIRST TWO HEX
    * CHARS of the md5 key — 256 buckets whose lexicographic order IS
    * the key order, so bucket counts (≤ 256 rows, bounded driver
    * metadata — the k-means-centroid discipline) prefix-sum into
    * exact global offsets; (2) one window partitioned BY bucket
    * (256-way parallel, never global) ranks within buckets, and
    * global pos = bucket offset + local rank − 1. Equivalent to the
    * global sort row-for-row (the q112 oracle IS the naive global
    * formulation) at 1/256th the largest sort partition; at larger
    * corpora widen the prefix (65536 buckets at 4 chars). */
  def shardAssignment(df: DataFrame, idCol: String, shardSize: Long): DataFrame = {
    require(shardSize > 0, s"shardAssignment: shardSize=$shardSize")
    val keyed = df
      .withColumn("__k", md5(col(idCol).cast("string")))
      .withColumn("__b", substring(col("__k"), 1, 2))
    val counts = keyed.groupBy("__b").agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[String, Long] = counts.map(_._1)
      .zip(counts.map(_._2).scanLeft(0L)(_ + _).init).toMap
    // Bounded literal map (≤ 256 entries) — one lookup per row, no
    // join, no 256-branch CASE chain.
    val offCol = element_at(typedlit(offsets), col("__b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__b").orderBy(col("__k"), col(idCol))
    keyed
      .withColumn("pos", offCol + row_number().over(w).cast("long") - 1L)
      .withColumn("shard", expr(s"pos div $shardSize"))
      .withColumn("pos_in_shard", pmod(col("pos"), lit(shardSize)))
      .drop("__k", "__b")
  }

  /** row_number over a BOUNDED frame WITHOUT the empty-partition
    * WindowExec: an unpartitioned window requires AllTuples (every
    * run logs the moving-all-data-to-one-partition warning, and the
    * plan genuinely degrades if the input is ever not tiny). For a
    * post-`limit` frame this computes rank x = 1 + |rows strictly
    * ahead of x| via a broadcast self join — O(n²) comparisons,
    * intended for n ≲ a few hundred rows; the join stays fully
    * parallel and warning-free. `order` lists (column, ascending?)
    * and MUST be a total order — ties would make row_number
    * nondeterministic under any formulation. Appends `rankCol`
    * (bigint, 1-based). */
  def boundedRowNumber(df: DataFrame, rankCol: String,
                       order: Seq[(String, Boolean)]): DataFrame = {
    require(order.nonEmpty, "boundedRowNumber: order must be non-empty")
    val cols = df.columns.toSeq
    require(!cols.contains(rankCol), s"boundedRowNumber: $rankCol exists")
    // Pin the (bounded-by-contract) frame: both join sides reference
    // it, and an unpinned post-limit lineage — typically a TakeOrdered
    // over an expensive scoring chain — would be evaluated twice
    // (measured: q141 1.0 → 1.7 s at sf0.1 before this pin).
    val pinned = df.localCheckpoint(true)
    val a = pinned.alias("__rna")
    // Non-null match marker: counting a data column would undercount
    // if the sort key were legitimately NULL in a matched row.
    val b = pinned.withColumn("__rnm", lit(1)).alias("__rnb")
    // Lexicographic strictly-ahead predicate over the sort key.
    val ahead = order.indices.map { i =>
      val ties = order.take(i).map { case (c, _) =>
        col(s"__rnb.$c") <=> col(s"__rna.$c") }
      val (c, asc) = order(i)
      val beats =
        if (asc) col(s"__rnb.$c") < col(s"__rna.$c")
        else col(s"__rnb.$c") > col(s"__rna.$c")
      (ties :+ beats).reduce(_ && _)
    }.reduce(_ || _)
    a.join(broadcast(b), ahead, "left")
      .groupBy(cols.map(c => col(s"__rna.$c")): _*)
      .agg((count(col("__rnb.__rnm")) + 1L).as(rankCol))
      .toDF(cols :+ rankCol: _*)
  }
}
