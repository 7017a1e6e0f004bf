package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Functions.cosineSim
import graft.functions.VectorExpressions.{dotF, normF}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two shapes:
  *   - [[bruteForceKnn]]: the exact baseline — broadcast the (bounded)
  *     query batch against the corpus scan, score every vector, rank
  *     per query. One pass over the corpus; correct at any scale in
  *     corpus size, linear cost per query.
  *   - [[ivfKnn]]: the scale path — assign every vector to its nearest
  *     of k fixed centroids (broadcast join against k rows), then
  *     search only the query's own cell. The corpus-side work drops
  *     from |corpus| to |cell| per query; the assignment is one
  *     broadcast pass, amortized across queries (and in a real
  *     pipeline, materialized once).
  *
  * Scoring runs through [[graft.functions.DotProductFloat]], a native
  * Catalyst expression with `doGenCode` (the HOF formulation sits
  * outside whole-stage codegen and allocates a zipped array per pair).
  * The kernel is the same deterministic left-to-right double fold the
  * DuckDB oracle computes, so scores agree bit-for-bit; ranks order by
  * the 6-decimal-rounded score with id tie-breaks, making top-k fully
  * deterministic.
  */
object Similarity {

  /** Cosine similarity rounded to 6 decimals (hash-stable output and
    * deterministic ordering key). Rounds via
    * [[graft.functions.Functions.roundFrac]] — the EXACT float ops
    * DuckDB's `round(x, 6)` performs, so scores agree with the oracle
    * by construction, and the pair loop carries no per-comparison
    * BigDecimal (Spark's `round` allocates one per call). */
  def cosRounded(a: Column, b: Column): Column =
    graft.functions.Functions.roundFrac(cosineSim(a, b), 6)

  /** Cosine from a pair dot product and PREcomputed per-side norms.
    * Each pair comparison then traverses the arrays once (the dot)
    * instead of three times — at N×M pair scale the norms are the
    * cheap per-row part and the pair loop is the hot path. The norm is
    * the identical fold either way, so scores stay bit-for-bit equal
    * to the inline form (and to the oracle). */
  def cosRoundedPre(a: Column, b: Column, normA: Column, normB: Column): Column =
    graft.functions.Functions.roundFrac(dotF(a, b) / (normA * normB), 6)

  /** Exact top-k: broadcast `queries` (a bounded query batch by
    * contract) against the corpus; rank per query by rounded cosine
    * desc, id asc. Excludes self-matches. */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      normF(col(vecCol)).as("qnorm"))
    val scored = corpus
      .select(col(idCol), col(vecCol), normF(col(vecCol)).as("__norm"))
      .join(broadcast(q), col(idCol) =!= col("qid"))
      .withColumn("cos_r",
        cosRoundedPre(col("qvec"), col(vecCol), col("qnorm"), col("__norm")))
    val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol), col("rnk"), col("cos_r"))
  }

  /** Maximal Marginal Relevance selection: pick `k` results that are
    * RELEVANT to the query but DIVERSE among themselves — the
    * eval-set / few-shot / prompt-example selection step (a plain
    * top-k returns k near-copies of the best hit; MMR's
    * λ·rel − (1−λ)·max-sim-to-selected penalty forces coverage).
    * Greedy argmax, the standard formulation: first pick by pure
    * relevance, then k−1 rounds of score = λ·rel − (1−λ)·ms where
    * `ms` is each candidate's max cosine to the already-selected set.
    *
    * Scale shape, in three exact mechanisms (all pick-preserving —
    * MmrSpec pins the output against a sequential reference):
    *   - CANDIDATES MATERIALIZE ONCE: (id, vec, rel) is
    *     localCheckpoint'ed before round 1, so the k rounds scan a
    *     compact materialized frame instead of re-deriving the
    *     corpus scan + broadcast + cosine every round (the old
    *     shape's dominant cost, and the q146-postmortem lineage
    *     growth: one filter+withColumn pair per round over an
    *     ever-deeper plan).
    *   - EXACT RELEVANCE PRUNE: in any round, a remaining candidate d
    *     guarantees score ≥ λ·rel_d − (1−λ) (ms ≤ 1), while c can
    *     never exceed λ·rel_c + (1−λ); at most k−1 candidates are
    *     ever removed, so the k-th-largest rel is always present
    *     among remaining. Hence rel_c < relK − 2(1−λ)/λ ⇒ c can win
    *     NO round — dropped once, before the checkpoint (skipped at
    *     λ = 0 where relevance is score-irrelevant; a 1e-9 slack
    *     keeps float-boundary candidates, conservatively exact).
    *   - BOUNDED LINEAGE: `ms` still updates incrementally
    *     (ms' = greatest(ms, cos(cand, pick)) — one map pass per
    *     round, the pick's vector a plan literal), and the frame
    *     re-checkpoints every 8 rounds so plan depth stays ≤ 8
    *     whatever k is.
    * Each round is then one map pass + a distributed TakeOrdered(1)
    * argmax; k bounded driver rows collected; no shuffle anywhere.
    * Cosines are [[cosRounded]] (6-decimal, engine-portable float
    * ops) and the λ-mix runs on those rounded doubles identically on
    * any IEEE engine, so an oracle replays the greedy chain exactly;
    * ties break by id.
    *
    * Returns the k picks as a driver-built frame:
    * (sel_rank, `idCol`, rel_r, score_r). */
  def mmrSelect(corpus: DataFrame, queryId: Long, k: Int,
                lambdaPct: Int = 70, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && k <= 64, s"mmrSelect: k out of range: $k")
    require(lambdaPct >= 0 && lambdaPct <= 100,
      s"mmrSelect: lambdaPct out of range: $lambdaPct")
    // Both weights are derived by the SAME division an oracle's SQL
    // literal parse performs (70/100 -> the double nearest 0.7) —
    // `1.0 - lambda` would differ from the literal 0.3 by one ulp and
    // flip near-tie argmaxes.
    val lam = lambdaPct / 100.0
    val pen = (100 - lambdaPct) / 100.0
    val spark = corpus.sparkSession
    val q = corpus.filter(col(idCol) === queryId)
      .select(col(vecCol).as("qvec"), normF(col(vecCol)).as("qnorm"))
    val cand = corpus.filter(col(idCol) =!= queryId)
      .select(col(idCol), col(vecCol),
        normF(col(vecCol)).as("__norm"))
      .crossJoin(broadcast(q))
      .select(col(idCol), col(vecCol),
        cosRoundedPre(col("qvec"), col(vecCol), col("qnorm"), col("__norm"))
          .as("rel"))
    // The exact prune. relK comes from a TakeOrdered(k) (k bounded
    // driver rows); null-rel candidates are kept — they can never win
    // (NULLS LAST under the desc argmax) but dropping them would
    // change nothing and keeping them costs nothing.
    val pruned =
      if (lam == 0.0) cand
      else {
        val topK = cand.filter(col("rel").isNotNull)
          .orderBy(col("rel").desc, col(idCol)).limit(k)
          .select(col("rel")).collect()
        if (topK.isEmpty) cand
        else {
          val relK = topK.last.getDouble(0)
          val floor = relK - 2.0 * pen / lam - 1e-9
          cand.filter(col("rel").isNull || col("rel") >= lit(floor))
        }
      }
    val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Double)]()
    var remaining = pruned.localCheckpoint(true)
    var sinceCheckpoint = 0
    for (i <- 1 to k) {
      val scored =
        if (i == 1) remaining.withColumn("score", col("rel"))
        else remaining.withColumn("score",
          lit(lam) * col("rel") - lit(pen) * col("ms"))
      val top = scored.orderBy(col("score").desc, col(idCol)).limit(1)
        .select(col(idCol), col(vecCol), col("rel"), col("score")).collect()
      if (top.nonEmpty) {
        val row = top(0)
        picks += ((i.toLong, row.getLong(0), row.getDouble(2), row.getDouble(3)))
        val pvec = typedlit(row.getSeq[Float](1))
        val simToPick = cosRounded(col(vecCol), pvec)
        remaining = remaining.filter(col(idCol) =!= row.getLong(0))
        remaining =
          if (i == 1) remaining.withColumn("ms", simToPick)
          else remaining.withColumn("ms", greatest(col("ms"), simToPick))
        sinceCheckpoint += 1
        if (sinceCheckpoint == 8 && i < k) {
          remaining = remaining.localCheckpoint(true)
          sinceCheckpoint = 0
        }
      }
    }
    import spark.implicits._
    picks.toSeq.toDF("sel_rank", idCol, "rel", "score")
      .select(col("sel_rank"), col(idCol),
        col("rel").as("rel_r"),
        graft.functions.Functions.roundFrac(col("score"), 6).as("score_r"))
  }

  /** Hard ceiling on the centroid codebook size for the literal-array
    * assignment path (a plan-embedded literal must stay small; real
    * IVF codebooks are 2^10..2^13 cells). */
  val MaxCentroids = 8192

  /** Assign each vector to its nearest centroid (ties broken by
    * smallest centroid id).
    *
    * Shuffle-free by construction: the codebook is bounded (k
    * centroids, trained upfront), so it is collected ONCE at
    * plan-build time into a literal array of (cid, cvec, cnorm)
    * structs, and the nearest-centroid pick is a pure `aggregate` fold
    * over that array — an argmax that never leaves the map side. The
    * previous formulation (broadcast cross join against k centroid
    * rows + `row_number` window) shuffled k×|corpus| rows by vec id
    * just to keep 1-of-k; at 100 TB that exchange IS the job. Here the
    * assignment pipelines inside the scan stage: no join, no window,
    * no exchange.
    *
    * Scores are the identical rounded fold the oracle computes
    * ([[cosRoundedPre]]): centroid norms use the same sequential
    * float→double square-sum, so assignment agrees bit-for-bit with
    * the window formulation. A vector whose cosine is null against
    * every centroid (mismatched length) gets no cell. */
  def assignCells(corpus: DataFrame, centroids: DataFrame,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cidType = centroids.select(col(idCol)).schema.head.dataType
    // cid-ascending order makes "first strict max" the documented
    // tie-break (ORDER BY cos DESC, cid ASC). limit(Max+1) bounds the
    // collect itself: an unbounded frame passed as a codebook must
    // raise the codebook-bound error, not OOM the driver first.
    val cents = centroids.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(MaxCentroids + 1).collect()
    require(cents.length <= MaxCentroids,
      s"assignCells: more than $MaxCentroids centroids exceed the codebook bound")
    val withNorm = corpus.select(col(idCol), col(vecCol), normF(col(vecCol)).as("__norm"))
    if (cents.isEmpty) {
      // No codebook → no assignments (the join formulation's behavior).
      return withNorm.select(col(idCol), col(vecCol),
        lit(null).cast(cidType).as("cid")).filter(lit(false))
    }
    val cvecs = cents.map(_.getSeq[Float](1).toArray)
    // The same strict left-to-right float→double square-sum fold
    // normF/the oracle compute, evaluated driver-side on the codebook.
    val cnorms = cvecs.map(v => math.sqrt(v.foldLeft(0.0)((s, x) => s + x.toDouble * x.toDouble)))
    val cids = array(cents.map(r => lit(r.get(0))): _*)
    withNorm
      .withColumn("__ci", graft.functions.VectorExpressions.nearestCentroid(
        col(vecCol), col("__norm"), cvecs, cnorms))
      .filter(col("__ci").isNotNull)
      .select(col(idCol), col(vecCol), element_at(cids, col("__ci") + 1).as("cid"))
  }

  /** IVF top-k over a PRE-ASSIGNED corpus — the primary API. `cells`
    * is the (id, vec, cid) assignment from [[assignCells]], with a
    * lifetime the CALLER owns: materialize it once (persist, or write
    * it as the partitioned index table — SimilarityIndexSpec) and
    * reuse it across every query batch. Spark's lazy API gives this
    * operator no point to unpersist at, so taking ownership here would
    * either leak the cache or recompute the k×dim argmax per call —
    * both wrong for the many-batches production flow.
    *
    * `nProbe` is the standard IVF recall/cost knob: 1 probes the
    * query's own cell (reusing the corpus assignment for the query
    * side); higher values widen recall at `nProbe×` the
    * scored-candidate cost, still never touching the rest of the
    * corpus. */
  def ivfKnnIndexed(cells: DataFrame, centroids: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1, s"ivfKnn: nProbe must be ≥ 1, got $nProbe")
    // Rename every query-side column: the probe frame derives from
    // cells/queries, so an unqualified col("cid") on both sides of the
    // join is ambiguous.
    val qCells =
      if (nProbe == 1)
        cells.join(queries.select(col(idCol)), Seq(idCol), "left_semi")
          .select(col(idCol).as("qid"), col(vecCol).as("qvec"), col("cid").as("qcid"),
            normF(col(vecCol)).as("qnorm"))
      else queryProbes(centroids, queries, nProbe, idCol, vecCol)
    val scored = cells
      .withColumn("__norm", normF(col(vecCol)))
      .join(broadcast(qCells), col("cid") === col("qcid") && col(idCol) =!= col("qid"))
      .withColumn("cos_r",
        cosRoundedPre(col("qvec"), col(vecCol), col("qnorm"), col("__norm")))
    val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol), col("rnk"), col("cos_r"))
  }

  /** One-shot convenience over [[ivfKnnIndexed]]: assigns cells and
    * `cache()`s the assignment for the duration of THIS query's
    * evaluation (both the probe side and the query-cell lookup read
    * it — uncached, the k×dim argmax fold runs over the corpus
    * twice). The cache lives until the session drops it (the harness
    * mains `clearCache()` per query); callers issuing many batches
    * against one corpus should use [[assignCells]] +
    * [[ivfKnnIndexed]] and own the materialization. */
  def ivfKnn(corpus: DataFrame, centroids: DataFrame, queries: DataFrame, k: Int,
             idCol: String = "vec_id", vecCol: String = "embedding",
             nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1, s"ivfKnn: nProbe must be ≥ 1, got $nProbe")
    val cells = assignCells(corpus, centroids, idCol, vecCol).cache()
    ivfKnnIndexed(cells, centroids, queries, k, idCol, vecCol, nProbe)
  }

  /** Deterministic "random" hyperplane weights for plane `p` over
    * `dim` dimensions — an LCG-style integer formula both engines can
    * evaluate exactly (every weight is an integer in (−501001,
    * 501001], exact in float32 AND in the oracle's double), replacing
    * a seeded RNG whose stream would be engine-specific. */
  def rpWeights(plane: Int, dim: Int): Seq[Float] =
    (1 to dim).map(j =>
      (((1103515245L * (plane.toLong * dim + j) + 12345L) % 1000003L) - 501001L).toFloat)

  /** Hyperplanes per band auto-sized from corpus cardinality instead
    * of a hand-tuned knob. A FIXED plane count is a fixed 2^np bucket
    * space, so candidate pairs grow ∝ n²/2^np — the r9 sf10 probe
    * measured the 8-plane default at 137× for 100× data. Sizing
    * np = ceil(log2(n/2)) pins expected band-bucket occupancy at ~2
    * regardless of corpus size, so pair work stays ∝ n·occupancy —
    * linear. Integer-exact (binary length of n/2 − 1, no float log an
    * oracle could round differently), clamped to [4, 40] (40 planes =
    * 10^12-bucket space, past any single-corpus cardinality; each
    * signature still fits a long). At the harness's sf0.01 (500
    * vectors) this yields exactly the historical default of 8. */
  def autoPlanes(corpusRows: Long): Int = {
    val half = math.max(2L, corpusRows / 2)
    val np = 64 - java.lang.Long.numberOfLeadingZeros(half - 1)
    math.max(4, math.min(40, np))
  }

  /** One `nPlanes`-bit random-hyperplane band signature: bit `i` set
    * iff the embedding's dot product with plane `planeStart + i` is
    * positive. Sign-of-dot is invariant to vector norm, so equal band
    * signatures ≈ small angular distance — the cosine-space analogue
    * of MinHash banding. Runs through the codegen'd
    * [[graft.functions.DotProductFloat]] kernel against a literal
    * weight array: a pure map pass, no shuffle. */
  def rpBand(vec: Column, planeStart: Int, nPlanes: Int, dim: Int): Column = {
    require(nPlanes >= 1 && nPlanes <= 62, s"rpBand: nPlanes out of range: $nPlanes")
    (0 until nPlanes).map { i =>
      when(dotF(vec, typedlit(rpWeights(planeStart + i, dim))) > 0d,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** One row per vector with its `nBands` random-hyperplane band
    * signatures as columns `b0..b{nBands-1}` (band `b` = planes
    * `[b·nPlanes, (b+1)·nPlanes)`). The signature pipeline is the
    * dominant per-vector cost (nBands·nPlanes dot products), so —
    * exactly like [[graft.ops.Dedup.minhashSignatures]] — callers
    * cache/materialize this frame and feed it to
    * [[rpCandidatesFromSigs]], rather than recomputing it on both
    * sides of the candidate self join. */
  def rpSignatures(vectors: DataFrame, idCol: String, vecCol: String,
                   dim: Int, nPlanes: Int = 8, nBands: Int = 2): DataFrame =
    vectors.select(col(idCol) +: (0 until nBands).map(b =>
      rpBand(col(vecCol), b * nPlanes, nPlanes, dim).as(s"b$b")): _*)

  /** Random-hyperplane LSH candidate pairs from precomputed
    * [[rpSignatures]]: vectors agreeing on at least one band. Same
    * single-banded-self-equi-join shape as the MinHash path
    * ([[graft.ops.Dedup.lshCandidates]]): signatures explode to one
    * (band, sig) row per band, ONE self equi join yields all
    * candidates — never all-pairs. Returns distinct (v1, v2) with
    * v1 < v2; callers verify candidates with exact cosine. */
  def rpCandidatesFromSigs(sigs: DataFrame, idCol: String,
                           nBands: Int = 2): DataFrame = {
    val rows = sigs.select(col(idCol),
      posexplode(array((0 until nBands).map(b => col(s"b$b")): _*))
        .as(Seq("__band", "__bsig")))
    val a = rows.select(col(idCol).as("v1"), col("__band").as("__band_a"),
      col("__bsig").as("__bsig_a"))
    val b = rows.select(col(idCol).as("v2"), col("__band").as("__band_b"),
      col("__bsig").as("__bsig_b"))
    a.join(b, col("__band_a") === col("__band_b") &&
        col("__bsig_a") === col("__bsig_b") && col("v1") < col("v2"))
      .select("v1", "v2").distinct()
  }

  // ── K-means codebook training ─────────────────────────────────────

  /** Scaled-integer embedding for [[kmeansFit]]: component →
    * `round((v + 4) * 10^6)` as BIGINT. All distance and centroid
    * arithmetic then happens in EXACT integer space — squared
    * euclidean distances are bigint sums (order-independent), centroid
    * means are integer `sum div count` — so training is bit-identical
    * across engines, partitionings, and retries, with no float-
    * summation-order hazard anywhere (the same reason the dedup
    * oracles avoid `avg`). The +4 shift keeps every component of a
    * unit-scale embedding positive, where Spark's `div` and the
    * oracle's `//` agree (both truncate). Six decimal digits of the
    * input survive the scaling — beyond float32 input precision. */
  def scaledVec(vecCol: Column): Column =
    transform(vecCol, x =>
      round((x.cast("double") + lit(4.0)) * lit(1000000.0)).cast("long"))

  /** Argmin-of-squared-euclidean fold over a literal scaled-integer
    * codebook: `struct(cid, dist)` of the nearest centroid to `sv`
    * (ties to the smallest cid — strict `<` keeps the earlier entry of
    * the cid-ascending array). Pure expression, no join/window/
    * exchange. CALLER CONTRACT: `sv` must be a materialized column
    * reference — the fold's lambda captures it, and captured subtrees
    * re-evaluate once per CENTROID (see [[TextAnalysis.spanGrams]]). */
  private def nearestScaled(sv: Column, cents: Seq[Array[Long]]): Column = {
    val centArr = array(cents.zipWithIndex.map { case (s, cid) =>
      struct(lit(cid.toLong).as("cid"), typedlit(s.toSeq).as("s"))
    }: _*)
    aggregate(centArr,
      struct(lit(-1L).as("cid"), lit(Long.MaxValue).as("dist")),
      (acc, c) => {
        val d = aggregate(
          zip_with(sv, c.getField("s"), (a, b) => (a - b) * (a - b)),
          lit(0L), (s, x) => s + x)
        when(d < acc.getField("dist"),
          struct(c.getField("cid").as("cid"), d.as("dist"))).otherwise(acc)
      })
  }

  /** Nearest-centroid assignment in scaled-integer space: argmin of
    * squared euclidean distance over a literal codebook, ties to the
    * smallest cid. Shuffle-free — the same plan shape as
    * [[assignCells]]: one `aggregate` fold over the codebook array
    * inside the scan stage, no join, no window, no exchange. Output:
    * `idCol`, `__sv` (scaled vector, internal), `cid`, `dist`. */
  private def kmeansAssign(corpus: DataFrame, cents: Seq[Array[Long]],
                           idCol: String, vecCol: String): DataFrame =
    kmeansAssignScaled(
      corpus.select(col(idCol), scaledVec(col(vecCol)).as("__sv")), cents, idCol)

  /** [[kmeansAssign]] over a frame that ALREADY carries the scaled
    * vector as `__sv` (a materialized column, per the
    * [[nearestScaled]] caller contract) — the shared kernel of the
    * flat and residual trainers. Input columns pass through (the
    * residual level threads its coarse cid alongside). */
  private def kmeansAssignScaled(sv: DataFrame, cents: Seq[Array[Long]],
                                 idCol: String): DataFrame =
    sv.withColumn("__best", nearestScaled(col("__sv"), cents))
      .withColumn("cid", col("__best").getField("cid"))
      .withColumn("dist", col("__best").getField("dist"))
      .drop("__best")

  /** Distributed Lloyd's k-means over an embedding column — the
    * trainer for the IVF codebook ([[assignCells]]/[[ivfKnn]] take
    * "k fixed centroids, trained upfront"; this is the upfront). Also
    * the core of SemDeDup-style semantic dedup (cluster, then drop
    * near-centroid duplicates).
    *
    * Deterministic BY CONSTRUCTION, not by luck: init is the `k`
    * smallest-`idCol` vectors (no RNG — same discipline as every
    * sampler in this engine), and all math is scaled-integer
    * ([[scaledVec]]), so the fitted codebook is a pure function of
    * the data. `iters` counts ASSIGNMENT passes: `iters = 2` is
    * assign → update → assign, which is what the q68 oracle unrolls.
    *
    * Scale shape per iteration: one shuffle-free assignment scan +
    * one partial-aggregated shuffle of k×dim groups (a few thousand
    * rows regardless of corpus size), then a bounded driver collect
    * of the k×dim centroid sums — the [[MaxCentroids]] discipline.
    * Empty cells keep their previous centroid. Returns the final
    * assignment (`idCol`, `cid` BIGINT, `dist` BIGINT — exact scaled
    * squared distance); [[kmeansCentroids]] returns the codebook
    * itself. */
  def kmeansFit(corpus: DataFrame, k: Int, iters: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    kmeansAssign(corpus, kmeansCentroids(corpus, k, iters, idCol, vecCol),
      idCol, vecCol)
      .select(col(idCol), col("cid"), col("dist"))

  /** The trained scaled-integer codebook (cid = index, ascending).
    * Runs `iters - 1` update rounds; [[kmeansFit]] adds the final
    * assignment pass over the result. */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Array[Long]] =
    kmeansCentroidsScaled(
      corpus.select(col(idCol), scaledVec(col(vecCol)).as("__sv")), k, iters, idCol)

  /** The Lloyd loop over an already-scaled `__sv` frame — shared by
    * the flat trainer and both levels of [[kmeansFitResidual]].
    * Components must be POSITIVE ([[scaledVec]]'s (−4, 4)→(0, 8·10⁶)
    * range, or residuals under the [[ResidualShift]]): the centroid
    * update is integer sum-div-count, and Spark's `/` (truncate
    * toward zero) only agrees with the oracle's `//` (floor) on
    * non-negative operands. */
  private def kmeansCentroidsScaled(sv: DataFrame, k: Int, iters: Int,
                                    idCol: String): Seq[Array[Long]] = {
    require(k >= 1 && k <= MaxCentroids,
      s"kmeansFit: k must be in [1, $MaxCentroids], got $k")
    require(iters >= 1 && iters <= 100,
      s"kmeansFit: iters must be in [1, 100], got $iters")
    var cents: Seq[Array[Long]] = sv
      .select(col(idCol), col("__sv"))
      .orderBy(col(idCol)).limit(k).collect()
      .map(_.getSeq[Long](1).toArray).toSeq
    require(cents.nonEmpty, "kmeansFit: empty corpus")
    for (_ <- 1 until iters) {
      val sums = kmeansAssignScaled(sv, cents, idCol)
        .select(col("cid"), posexplode(col("__sv")).as(Seq("i", "x")))
        .groupBy("cid", "i")
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
        .collect() // bounded: ≤ k × dim rows
        .map(r => (r.getLong(0).toInt, r.getInt(1)) -> (r.getLong(2) / r.getLong(3)))
        .toMap
      cents = cents.zipWithIndex.map { case (old, cid) =>
        if (sums.contains((cid, 0)))
          Array.tabulate(old.length)(i => sums((cid, i)))
        else old // empty cell: keep the previous centroid
      }
    }
    cents
  }

  /** Auto-sized SemDeDup blocking-codebook cell count — the k analogue
    * of [[autoPlanes]]. A FIXED k is a fixed cell count, so within-cell
    * pair work Σ C(n_c, 2) grows QUADRATICALLY with the corpus (the
    * r12 sf10 matrix measured the k=8 gate config at 178 s — its one
    * super-linear row). Targeting a constant expected occupancy of 64
    * vectors per cell (k = ⌈n/64⌉) keeps per-cell pair work constant
    * and total pair work ∝ n·occupancy — linear, the SemDeDup paper's
    * own regime ("k chosen so cells stay constant-size"). Integer-exact
    * (no float an oracle could round differently), clamped to
    * [8, [[MaxCentroids]]]. At the harness's 500-vector oracle scale
    * this yields exactly the historical k = 8 gate config. */
  def autoCodebookK(corpusRows: Long): Int = {
    val k = ((corpusRows + 63) / 64).min(MaxCentroids.toLong).toInt
    math.max(8, k)
  }

  /** √n-SCALED sampled-centroid modulus for the literal-sampling IVF
    * family (q41/q55/q154): the smallest 37·i (i ≥ 1 integer) with
    * (37·i)² ≥ n. The historical fixed `% 37` sampling made the
    * centroid count ∝ n/37, so the flat assignment fold cost
    * n·(n/37) — quadratic (measured 27×/39× at 100× data on
    * q41/q55). Scaling the modulus with √n sets BOTH the centroid
    * count and the cell occupancy to ~√n: assignment n·√n, per-query
    * probe √n — the flat-IVF optimum. Integer-exact by the same
    * bounded-range-scan discipline as [[sqrtCeil]] (the oracle
    * evaluates the identical `1369·i·i ≥ n` predicate — no float
    * sqrt at perfect squares). At the harness's ≤ 1369-vector oracle
    * scales this is exactly the historical 37, so small-SF results
    * are unchanged by construction. */
  def sampledCentroidModulus(n: Long): Long = {
    require(n >= 0 && n <= 1369L * 999 * 999,
      s"sampledCentroidModulus: corpus of $n rows exceeds the scan bound")
    37L * (1 to 999).find(i => 1369L * i * i >= n).get
  }

  /** Smallest integer whose square is ≥ k — the per-level size of the
    * two-level residual codebook (integer-exact; both engines scan the
    * same bounded range instead of trusting a float `sqrt` at perfect
    * squares). k ≤ [[MaxCentroids]] = 8192 ⇒ result ≤ 91. */
  def sqrtCeil(k: Int): Int = {
    require(k >= 1 && k <= MaxCentroids, s"sqrtCeil: k out of range: $k")
    Iterator.from(1).find(i => i * i >= k).get
  }

  /** Shift making residual components positive before the fine Lloyd
    * level: [[scaledVec]] maps components in (−4, 4) to (0, 8·10⁶), so
    * any (vector − centroid) component lies in (−8·10⁶, 8·10⁶) and
    * shifting by 8·10⁶ lands it in (0, 16·10⁶) — positive (the
    * [[kmeansCentroidsScaled]] division contract) and exact (far from
    * int64 overflow: squared distances stay < 64·(16·10⁶)² ≈ 2⁶⁴/10³
    * per dim, summed over ≤ 4096 dims < 2⁶³). Squared distances are
    * shift-invariant, so assignment geometry is unchanged. */
  val ResidualShift = 8000000L

  /** TWO-LEVEL residual k-means — the codebook architecture that makes
    * [[autoCodebookK]] trainable at any corpus size. Flat Lloyd
    * assignment folds the vector over a k-entry literal codebook:
    * O(k·dim) per vector per pass, fine at the k ≤ 64 gate configs but
    * 50× the measured k=64 cost at the k ≈ 3000 an sf10 corpus wants —
    * the codebook BUILD would become the quadratic row. Here a coarse
    * level of `kCoarse` cells trains normally, then a fine level of
    * `kFine` cells trains on the coarse RESIDUALS (vector − assigned
    * coarse centroid, shifted positive by [[ResidualShift]]), giving
    * `kCoarse × kFine` distinct blocking cells for
    * O((kCoarse + kFine)·dim) per vector per pass — √k scaling, the
    * public faiss IVF-residual / multi-index shape.
    *
    * Deterministic by the same construction as [[kmeansFit]]: both
    * levels init from the k smallest-id vectors and run all-integer
    * math, so the fitted cells are a pure function of the data. The
    * residual frame is materialized once (`localCheckpoint`) before
    * the fine loop — the [[nearestScaled]] capture contract would
    * otherwise re-evaluate the coarse fold once per fine centroid,
    * re-creating exactly the flat O(k·dim) cost this exists to avoid.
    *
    * Returns (`idCol`, cid, dist): cid = coarseCid·kFine + fineCid
    * (BIGINT, < kCoarse·kFine), dist = exact scaled squared distance
    * to the fine residual centroid. */
  def kmeansFitResidual(corpus: DataFrame, kCoarse: Int, kFine: Int, iters: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(kCoarse >= 1 && kFine >= 1 && kCoarse.toLong * kFine <= MaxCentroids.toLong * MaxCentroids,
      s"kmeansFitResidual: cell space $kCoarse×$kFine out of range")
    val sv = corpus.select(col(idCol), scaledVec(col(vecCol)).as("__sv"))
    val coarse = kmeansCentroidsScaled(sv, kCoarse, iters, idCol)
    val centLit = typedlit(coarse.map(_.toSeq))
    val resid = kmeansAssignScaled(sv, coarse, idCol)
      .select(col(idCol), col("cid").as("__ccid"),
        zip_with(col("__sv"),
          element_at(centLit, col("cid").cast("int") + 1),
          (x, c) => x - c + lit(ResidualShift)).as("__sv"))
      .localCheckpoint(true)
    val fine = kmeansCentroidsScaled(resid, kFine, iters, idCol)
    kmeansAssignScaled(resid, fine, idCol)
      .select(col(idCol),
        (col("__ccid") * lit(kFine.toLong) + col("cid")).as("cid"),
        col("dist"))
  }

  // ── Product quantization (PQ) ─────────────────────────────────────

  /** Train PQ codebooks (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search"): the `dim`-dimensional vector splits
    * into `m` contiguous subspaces of `dim/m` dims, and each subspace
    * gets its own [[kmeansCentroids]] codebook of `kPerSub` entries in
    * scaled-integer space — deterministic by the same construction as
    * q68 (smallest-id init, exact bigint distances, integer centroid
    * updates). Returns `m` codebooks; entry `(j)(c)` is centroid `c`
    * of subspace `j`.
    *
    * Scale shape: `m` training runs, each the [[kmeansCentroids]]
    * shape (shuffle-free assignment scan + one k×subdim partial-agg
    * shuffle per iteration, bounded driver collect). */
  def pqTrainCodebooks(corpus: DataFrame, dim: Int, m: Int, kPerSub: Int,
                       iters: Int, idCol: String = "vec_id",
                       vecCol: String = "embedding"): Seq[Seq[Array[Long]]] = {
    require(m >= 1 && dim % m == 0,
      s"pqTrainCodebooks: m=$m must divide dim=$dim")
    val sub = dim / m
    (0 until m).map { j =>
      kmeansCentroids(
        corpus.select(col(idCol), slice(col(vecCol), j * sub + 1, sub).as(vecCol)),
        kPerSub, iters, idCol, vecCol)
    }
  }

  /** Encode each vector as its `m` per-subspace nearest-centroid codes
    * — the compact representation PQ searches over (`m` small ints
    * instead of `dim` floats: at `m=8`, `k=256` a 768-dim float vector
    * compresses 384×). One shuffle-free map pass: every subspace's
    * argmin folds over its literal codebook inside the scan stage; the
    * sliced subvectors are materialized as columns FIRST (the fold's
    * lambda captures them — the [[TextAnalysis.spanGrams]] contract).
    * Output: `idCol`, `codes` (array of `m` codebook indices). */
  def pqEncode(corpus: DataFrame, codebooks: Seq[Seq[Array[Long]]],
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    require(m >= 1, "pqEncode: empty codebook list")
    val sub = codebooks.head.head.length
    val sliced = corpus
      .select(col(idCol), scaledVec(col(vecCol)).as("__sv"))
      .select(col(idCol) +: (0 until m).map(j =>
        slice(col("__sv"), j * sub + 1, sub).as(s"__sv$j")): _*)
    sliced
      .select(col(idCol) +: (0 until m).map(j =>
        nearestScaled(col(s"__sv$j"), codebooks(j)).getField("cid").as(s"__c$j")): _*)
      .select(col(idCol),
        array((0 until m).map(j => col(s"__c$j")): _*).as("codes"))
  }

  /** PQ top-k by asymmetric distance (ADC): the query stays a full
    * scaled vector, the corpus is its `codes`, and the approximate
    * distance is the sum over subspaces of the EXACT scaled squared
    * distance from the query's subvector to the centroid the code
    * names. All-integer arithmetic → bit-deterministic ranking
    * (distance asc, id asc).
    *
    * Scale shape: queries are a bounded broadcast batch (the
    * [[bruteForceKnn]] contract); the corpus side streams its compact
    * codes through `m` literal-codebook lookups per query — the
    * quantized-scan kernel that makes PQ memory-bound instead of
    * FLOP-bound. In production this composes with IVF cells exactly
    * like [[ivfKnnIndexed]] (IVF-PQ: prune candidates by cell, score
    * survivors by ADC); here the full-scan form keeps the oracle
    * exact. */
  def pqTopK(codes: DataFrame, codebooks: Seq[Seq[Array[Long]]],
             queries: DataFrame, k: Int, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    require(m >= 1, "pqTopK: empty codebook list")
    val sub = codebooks.head.head.length
    val q = queries
      .select(col(idCol).as("qid"), scaledVec(col(vecCol)).as("__qs"))
      .select(col("qid") +: (0 until m).map(j =>
        slice(col("__qs"), j * sub + 1, sub).as(s"__qs$j")): _*)
    val subDists = (0 until m).map { j =>
      val cb = array(codebooks(j).map(cvec => typedlit(cvec.toSeq)): _*)
      aggregate(
        zip_with(col(s"__qs$j"),
          element_at(cb, (col("codes").getItem(j) + 1).cast("int")),
          (a, b) => (a - b) * (a - b)),
        lit(0L), (s, x) => s + x)
    }
    val w = Window.partitionBy("qid").orderBy(col("adist"), col(idCol))
    codes.join(broadcast(q), col(idCol) =!= col("qid"))
      .withColumn("adist", subDists.reduce(_ + _))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol), col("rnk"), col("adist"))
  }

  /** IVF-PQ: the production ANN composition — IVF cells prune the
    * candidate set (only the query's own cell is scored, as
    * [[ivfKnnIndexed]] at `nProbe = 1`), and the survivors are scored
    * by PQ asymmetric distance over their compact codes instead of
    * full vectors (as [[pqTopK]]). Per query the work drops from
    * |corpus| × dim float ops to |cell| × m table lookups; both the
    * `cells` assignment and the `codes` table are corpus artifacts
    * materialized once (the index registry / q70 discipline).
    * All-integer ADC → deterministic ranking (distance asc, id asc).
    *
    * `cells` = (idCol, cid[, …]) from [[kmeansFit]]/[[assignCells]];
    * `codes` = (idCol, codes) from [[pqEncode]]; `queries` supplies
    * full vectors (ADC is asymmetric: queries stay unquantized). */
  def ivfPqTopK(cells: DataFrame, codes: DataFrame,
                codebooks: Seq[Seq[Array[Long]]], queries: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val m = codebooks.length
    require(m >= 1, "ivfPqTopK: empty codebook list")
    val sub = codebooks.head.head.length
    val q = queries
      .join(cells.select(col(idCol), col("cid")), Seq(idCol))
      .select(col(idCol).as("qid"), col("cid").as("qcid"),
        scaledVec(col(vecCol)).as("__qs"))
      .select(col("qid") +: col("qcid") +: (0 until m).map(j =>
        slice(col("__qs"), j * sub + 1, sub).as(s"__qs$j")): _*)
    val subDists = (0 until m).map { j =>
      val cb = array(codebooks(j).map(cvec => typedlit(cvec.toSeq)): _*)
      aggregate(
        zip_with(col(s"__qs$j"),
          element_at(cb, (col("codes").getItem(j) + 1).cast("int")),
          (a, b) => (a - b) * (a - b)),
        lit(0L), (s, x) => s + x)
    }
    val w = Window.partitionBy("qid").orderBy(col("adist"), col(idCol))
    codes.join(cells.select(col(idCol), col("cid")), Seq(idCol))
      .join(broadcast(q), col("cid") === col("qcid") && col(idCol) =!= col("qid"))
      .withColumn("adist", subDists.reduce(_ + _))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol), col("rnk"), col("adist"))
  }

  /** The query batch's `nProbe` nearest cells, one output row per
    * (query, probed cell). The per-query sort runs as an array
    * expression over the literal codebook — interpreted, but the
    * query batch is bounded by contract (it is the broadcast side),
    * so the cost never scales with the corpus. Ordering matches the
    * assignment tie-break: rounded cos desc, cid asc. */
  private def queryProbes(centroids: DataFrame, queries: DataFrame, nProbe: Int,
                          idCol: String, vecCol: String): DataFrame = {
    val cents = centroids.select(col(idCol), col(vecCol)).orderBy(col(idCol))
      .limit(MaxCentroids + 1).collect()
    require(cents.length <= MaxCentroids,
      s"queryProbes: more than $MaxCentroids centroids exceed the codebook bound")
    val centArr = array(cents.map { r =>
      val cvec = r.getSeq[Float](1)
      val cnorm = math.sqrt(cvec.foldLeft(0.0)((s, v) => s + v.toDouble * v.toDouble))
      struct(lit(r.get(0)).as("cid"), typedlit(cvec.toSeq).as("cvec"),
        lit(cnorm).as("cnorm"))
    }: _*)
    val scored = transform(centArr, c => struct(
      graft.functions.Functions.roundFrac(
        dotF(col("qvec"), c("cvec")) / (col("qnorm") * c("cnorm")), 6).as("cos"),
      c("cid").as("cid")))
    val ordered = array_sort(scored, (l, r) =>
      when(l("cos") > r("cos"), -1).when(l("cos") < r("cos"), 1)
        .when(l("cid") < r("cid"), -1).when(l("cid") > r("cid"), 1)
        .otherwise(0))
    queries
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        normF(col(vecCol)).as("qnorm"))
      .withColumn("qcid",
        explode(transform(slice(ordered, 1, nProbe), p => p("cid"))))
  }
}
