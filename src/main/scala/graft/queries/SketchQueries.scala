package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Sources.table
import graft.ops.{Dedup, Sketches}

/** Oracle-pinned sketch-and-estimator queries ([[graft.ops.Sketches]]):
  * the AMS second-moment, portable-HLL and KMV distinct/set-algebra
  * estimators, the log2-histogram quantile sketch, and the
  * hash-priority weighted sampler. The frequency rows are each
  * emitted NEXT TO its exact counterpart so the result row carries
  * the estimate, the truth, and the signed per-mille error — and the
  * whole triple is hash-compared against DuckDB recomputing the
  * identical integer arithmetic. Complements q22 (engine-native
  * sketches, bounded-flag verification) and q123 (count-min point
  * estimates): these two rows pin the ESTIMATORS themselves across
  * engines.
  *
  * Key universes are chosen where each estimator is in its published
  * operating range at every declared scale: AMS runs over the corpus
  * BIGRAM counts (the persisted [[Indexes.bigramFrequencies]] index —
  * a zipf-ish ~10³-type distribution whose collision mass is a real
  * planning input), HLL over the corpus 3-token SHINGLE universe
  * (~10⁴ distinct and corpus-scaled — the raw Flajolet estimator
  * needs E > 2.5m, and the 31-word harness vocabulary sits far below
  * it, so word types would pin arithmetic while demonstrating the
  * estimator only in its bias zone).
  */
object SketchQueries {

  import Sketches.{AmsEstimators, HllMaxRank, HllNum, HllShift, KmvK, KmvNum}

  /** Per-source distinct 3-shingle stream + its KMV sketch — shared by
    * q214/q215: `ssh` is the distinct (source, shingle) frame (the
    * exact side's input and the truth), `sk` the per-source k-minima
    * over the 52-bit hash ([[graft.ops.Sketches.kmvHash52]]). */
  private val kmvCtes =
    s"""ssh AS MATERIALIZED (
       |  SELECT DISTINCT source AS g,
       |    words[CAST(i AS INT)] || ' ' || words[CAST(i AS INT)+1] || ' ' ||
       |    words[CAST(i AS INT)+2] AS w
       |  FROM (SELECT source, string_split(text, ' ') AS words FROM documents),
       |       unnest(generate_series(1, len(words)-2)) AS t(i)),
       |hs AS (SELECT DISTINCT g, ('0x' || substr(md5(w), 1, 13))::BIGINT AS h
       |       FROM ssh),
       |rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS r
       |       FROM hs),
       |sk AS MATERIALIZED (SELECT g, h FROM rk WHERE r <= $KmvK)""".stripMargin

  /** The portable-HLL register + estimate chain over the corpus
    * 3-shingle universe — shared by q213 (batch, with the exact truth
    * alongside) and q218 (streaming maintenance of the same
    * registers; stream ≡ batch because registers max-merge). */
  private val hllCtes =
    s"""gsh AS MATERIALIZED (
       |  SELECT DISTINCT words[CAST(i AS INT)] || ' ' ||
       |    words[CAST(i AS INT)+1] || ' ' || words[CAST(i AS INT)+2] AS w
       |  FROM (SELECT string_split(text, ' ') AS words FROM documents),
       |       unnest(generate_series(1, len(words)-2)) AS t(i)),
       |rg AS (SELECT ('0x' || substr(md5(w), 1, 2))::BIGINT AS b,
       |              ('0x' || substr(md5(w), 3, 14))::BIGINT AS x FROM gsh),
       |rk AS (SELECT b, max(CASE WHEN x = 0 THEN $HllMaxRank
       |                     ELSE $HllMaxRank - length(bin(x)) END) AS mj
       |       FROM rg GROUP BY b),
       |regs AS (SELECT coalesce(rk.mj, 0) AS mj
       |         FROM range(0, ${Sketches.HllBuckets}) t(b)
       |         LEFT JOIN rk ON t.b = rk.b),
       |ss AS (SELECT CAST(sum(CASE WHEN mj <= $HllShift
       |           THEN 1::BIGINT << CAST($HllShift - mj AS INT)
       |           ELSE 0 END) AS BIGINT) AS s FROM regs),
       |es AS (SELECT $HllNum // s // 1000000 AS n_est FROM ss)""".stripMargin

  val all: Seq[Q] = Seq(

    // AMS F2: Σn² of the corpus bigram counts (the distribution's
    // self-join size / collision mass — what a join planner wants to
    // know about a key column without shuffling the join) estimated
    // by the median-of-means of 9×28 ±1-signed sketch sums (the
    // paper's construction — a plain median of squares converges to
    // 0.455·F2, see [[graft.ops.Sketches.AmsGroups]]), alongside the
    // exact moment and the signed per-mille error. Every value is
    // exact BIGINT arithmetic over the portable hash, so the oracle
    // pins the estimator bit-for-bit — a wrong sign, a wrong group
    // boundary, or a drifting hash all hash-mismatch the row. The
    // engine side mirrors the oracle's cross product: the estimator id
    // is a column (`explode(sequence(0, 251))`), so the sign is one
    // expression and the stage stays in whole-stage codegen. Sketch
    // state is 252 longs, mergeable by addition: at 1000 executors
    // the pass is map-side partials shipping kilobytes.
    Q("q212_ams_f2_moment",
      s"""WITH bgr AS (
         |  SELECT words[CAST(i AS INT)] || ' ' || words[CAST(i AS INT)+1] AS w
         |  FROM (SELECT string_split(text, ' ') AS words FROM documents),
         |       unnest(generate_series(1, len(words)-1)) AS t(i)),
         |ty AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS n FROM bgr GROUP BY w),
         |sk AS (
         |  SELECT i, CAST(sum(n * (1 - 2 *
         |      (${LlmQueries.h64("'ams' || CAST(i AS VARCHAR) || '|' || w")} % 2)))
         |    AS BIGINT) AS z
         |  FROM ty, (SELECT unnest(range(0, $AmsEstimators)) AS i)
         |  GROUP BY i),
         |ex AS (SELECT CAST(sum(n * n) AS BIGINT) AS f2_exact FROM ty),
         |gm AS (SELECT i // ${Sketches.AmsGroupSize} AS g,
         |         CAST(sum(z * z) AS BIGINT) // ${Sketches.AmsGroupSize} AS m
         |       FROM sk GROUP BY 1),
         |md AS (SELECT list(m ORDER BY m)[${(Sketches.AmsGroups + 1) / 2}]
         |         AS f2_est FROM gm)
         |SELECT ex.f2_exact, CAST(md.f2_est AS BIGINT) AS f2_est,
         |       ((md.f2_est - ex.f2_exact) * 1000) // ex.f2_exact AS err_pm
         |FROM ex, md""".stripMargin) {
      (s, d) =>
        val ty = Indexes.bigramFrequencies(s, d)
          .groupBy("bg").agg(sum(col("tf")).cast("bigint").as("n"))
          .withColumnRenamed("bg", "w")
        val est = Sketches.amsF2Estimate(Sketches.amsSketch(ty))
        val ex = ty.agg(sum(col("n") * col("n")).cast("bigint").as("f2_exact"))
        ex.crossJoin(est).select(col("f2_exact"), col("f2_est"),
          expr("((f2_est - f2_exact) * 1000) div f2_exact").as("err_pm"))
    },

    // Portable HLL distinct count of the corpus 3-shingle universe:
    // 256 max-rank registers over the md5 bucket/value split, integer
    // harmonic sum S = Σ 2^(17 − M_j), estimate = α·m²·2^17·10⁶ div S
    // div 10⁶ — the raw Flajolet estimator re-expressed as two trunc
    // divisions so DuckDB reproduces the ESTIMATE itself (q22's HLL++
    // could only be flag-bounded; this row is hash-pinned). The
    // estimate side is ONE map pass ending in 256 bytes of max-merged
    // register state — distinct-shingle cardinality without the
    // corpus-wide distinct shuffle the exact side (emitted for the
    // error column, and itself the oracle's truth) has to pay.
    Q("q213_hll_distinct_portable",
      s"""WITH $hllCtes,
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM gsh)
         |SELECT ex.n_exact, es.n_est,
         |       ((es.n_est - ex.n_exact) * 1000) // ex.n_exact AS err_pm
         |FROM ex, es""".stripMargin) {
      (s, d) =>
        // Registers are multiplicity-insensitive (max-merge), so any
        // frame whose distinct support is the corpus shingle universe
        // feeds them — here the persisted per-source type table
        // (union over sources of distinct = the universe), making
        // both plan branches parquet scans instead of two corpus
        // explodes (measured 6.3 → ~1 s at sf0.1). On a raw stream
        // the registers aggregate directly with no distinct shuffle —
        // that property is what lets the index build itself stay one
        // pass.
        val sh = Indexes.sourceShingles(s, d).select("w")
        val est = Sketches.hllEstimate(s, Sketches.hllRegisters(sh))
        val ex = sh.agg(countDistinct(col("w")).as("n_exact"))
        ex.crossJoin(est).select(col("n_exact"), col("n_est"),
          expr("((n_est - n_exact) * 1000) div n_exact").as("err_pm"))
    },

    // KMV distinct-by-source: per source, the k = 512 smallest
    // distinct 52-bit shingle hashes estimate the source's distinct
    // 3-shingle count as (k−1)·2^52 div h_k (exact when the sketch
    // isn't full — at sf0.01 every source holds ~1.1-1.5k distinct
    // shingles, so the estimator leg is genuinely exercised), next to
    // the exact count and the signed per-mille error. Integer
    // arithmetic end to end — the ESTIMATOR is hash-pinned, the HLL
    // row's discipline extended to the sketch family that can also do
    // set algebra (q215). Sketch state: k longs per source, mergeable
    // (SketchSpec pins the min-k merge law); the rank's sort input is
    // the per-source hash type table, and any h < T prefilter above
    // the true h_k is invisible — the documented 100-TB pushdown.
    Q("q214_kmv_distinct_by_source",
      s"""WITH $kmvCtes,
         |es AS (SELECT g, count(*) AS cnt, max(h) AS hk FROM sk GROUP BY g),
         |ex AS (SELECT g, CAST(count(*) AS BIGINT) AS n_exact
         |       FROM ssh GROUP BY g),
         |j AS (SELECT ex.g, ex.n_exact,
         |        CAST(CASE WHEN es.cnt < $KmvK THEN es.cnt
         |             ELSE $KmvNum // es.hk END AS BIGINT) AS d_est
         |      FROM ex JOIN es ON ex.g = es.g)
         |SELECT g AS source, n_exact, d_est,
         |       ((d_est - n_exact) * 1000) // n_exact AS err_pm
         |FROM j""".stripMargin) {
      (s, d) =>
        // The persisted per-source shingle type table — both plan
        // branches (sketch + exact) scan parquet, not the corpus.
        val keyed = Indexes.sourceShingles(s, d)
        val est = Sketches.kmvEstimate(Sketches.kmvSketch(keyed))
        val ex = keyed.groupBy("g").agg(count(lit(1)).as("n_exact"))
        ex.join(est, "g")
          .select(col("g").as("source"), col("n_exact"), col("d_est"),
            expr("((d_est - n_exact) * 1000) div n_exact").as("err_pm"))
    },

    // KMV set algebra — the capability registers don't have: for every
    // source pair, the UNION distinct estimate (KMV over the merged
    // sketches' k minima) and the theta-style INTERSECTION estimate
    // (n_ab·union_est div k over the minima common to both sides),
    // each next to its exact count. The exact columns are the truth
    // AND the cost story: exact overlap needs the corpus-wide
    // distinct self-join on the shingle key; the estimate needs 190
    // pairs × 512 longs of sketch state, corpus-size-independent.
    // Intersection error is NULL-guarded (a disjoint pair has no
    // per-mille denominator). All-integer → both estimators
    // hash-pinned against DuckDB replaying the identical arithmetic.
    Q("q215_kmv_set_overlap",
      s"""WITH $kmvCtes,
         |pr AS (SELECT a.g AS s1, b.g AS s2
         |       FROM (SELECT DISTINCT g FROM sk) a,
         |            (SELECT DISTINCT g FROM sk) b WHERE a.g < b.g),
         |um AS (SELECT s1, s2, h, count(*) AS ng FROM (
         |         SELECT pr.s1, pr.s2, sk.h FROM pr JOIN sk ON sk.g = pr.s1
         |         UNION ALL
         |         SELECT pr.s1, pr.s2, sk.h FROM pr JOIN sk ON sk.g = pr.s2)
         |       GROUP BY s1, s2, h),
         |rk2 AS (SELECT s1, s2, h, ng,
         |          row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS r
         |        FROM um),
         |ag AS (SELECT s1, s2, count(*) AS cu, max(h) AS hku,
         |         CAST(sum(CASE WHEN ng = 2 THEN 1 ELSE 0 END) AS BIGINT) AS nab
         |       FROM rk2 WHERE r <= $KmvK GROUP BY s1, s2),
         |exd AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM ssh GROUP BY g),
         |exi AS (SELECT a.g AS s1, b.g AS s2, CAST(count(*) AS BIGINT) AS n_inter
         |        FROM ssh a JOIN ssh b ON a.w = b.w AND a.g < b.g
         |        GROUP BY 1, 2),
         |base AS (
         |  SELECT ag.s1, ag.s2,
         |    ea.n + eb.n - coalesce(exi.n_inter, 0) AS n_union,
         |    CAST(CASE WHEN ag.cu < $KmvK THEN ag.cu
         |         ELSE $KmvNum // ag.hku END AS BIGINT) AS union_est,
         |    coalesce(exi.n_inter, 0) AS n_inter,
         |    CAST(CASE WHEN ag.cu < $KmvK THEN ag.nab
         |         ELSE (ag.nab * ($KmvNum // ag.hku)) // $KmvK
         |         END AS BIGINT) AS inter_est
         |  FROM ag JOIN exd ea ON ea.g = ag.s1
         |          JOIN exd eb ON eb.g = ag.s2
         |          LEFT JOIN exi ON exi.s1 = ag.s1 AND exi.s2 = ag.s2)
         |SELECT s1, s2, n_union, union_est,
         |       ((union_est - n_union) * 1000) // n_union AS uerr_pm,
         |       n_inter, inter_est,
         |       CASE WHEN n_inter = 0 THEN NULL
         |            ELSE ((inter_est - n_inter) * 1000) // n_inter
         |       END AS ierr_pm
         |FROM base""".stripMargin) {
      (s, d) =>
        // Four plan branches reference the type table (sketch, exact
        // per-source counts, both self-join sides) — inline each
        // would re-run the corpus explode + distinct (Spark has no
        // subtree CSE; measured as this row's sf0.1 watchdog
        // timeout); from the registry each is a parquet scan.
        val keyed = Indexes.sourceShingles(s, d)
        val pe = Sketches.kmvPairEstimates(Sketches.kmvSketch(keyed))
        val exd = keyed.groupBy("g").agg(count(lit(1)).as("n"))
        val exi = keyed.as("a")
          .join(keyed.as("b"),
            col("a.w") === col("b.w") && col("a.g") < col("b.g"))
          .groupBy(col("a.g").as("s1"), col("b.g").as("s2"))
          .agg(count(lit(1)).as("n_inter"))
        pe.join(exd.select(col("g").as("s1"), col("n").as("__na")), "s1")
          .join(exd.select(col("g").as("s2"), col("n").as("__nb")), "s2")
          .join(exi, Seq("s1", "s2"), "left")
          .withColumn("n_inter", coalesce(col("n_inter"), lit(0L)))
          .withColumn("n_union",
            col("__na") + col("__nb") - col("n_inter"))
          .withColumn("uerr_pm",
            expr("((union_est - n_union) * 1000) div n_union"))
          .withColumn("ierr_pm",
            when(col("n_inter") === 0, lit(null).cast("long"))
              .otherwise(expr("((inter_est - n_inter) * 1000) div n_inter")))
          .select("s1", "s2", "n_union", "union_est", "uerr_pm",
            "n_inter", "inter_est", "ierr_pm")
    },

    // Log2-histogram (HDR-style) quantile sketch over the per-doc
    // token-count distribution: ≤ 64 additive bucket counts are the
    // ENTIRE state — mergeable across executors/batches, constant
    // size at any corpus scale — and p50/p90/p99 fall out of a
    // cumulative walk with at most 2× value error (bucket midpoint).
    // Emitted next to the EXACT discrete quantile (min v whose
    // cumulative count reaches rank r = ceil(p·N/1000), computed from
    // the bounded value histogram — no global data sort on either
    // engine) and the signed per-mille error. Both cumulative walks
    // are triangular joins over BOUNDED frames (≤ 64 log buckets;
    // ≤ max-doc-length distinct counts), never over rows. Integer
    // arithmetic end to end — the sketch's estimate is hash-pinned.
    Q("q216_log2_quantile_sketch",
      """WITH nt AS (SELECT len(string_split(text, ' ')) AS v FROM documents),
        |hist AS (SELECT CASE WHEN v <= 0 THEN 0 ELSE length(bin(v)) END AS j,
        |                count(*) AS n
        |         FROM nt GROUP BY 1),
        |vh AS (SELECT v, count(*) AS n FROM nt GROUP BY v),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS ntot FROM hist),
        |ps AS (SELECT p, (p * ntot + 999) // 1000 AS r
        |       FROM tot, (SELECT unnest([500, 900, 990]) AS p)),
        |cumj AS (SELECT h1.j, sum(h2.n) AS c
        |         FROM hist h1 JOIN hist h2 ON h2.j <= h1.j GROUP BY h1.j),
        |est AS (SELECT p, min(j) AS j FROM ps JOIN cumj ON c >= r GROUP BY p),
        |cumv AS (SELECT v1.v, sum(v2.n) AS c
        |         FROM vh v1 JOIN vh v2 ON v2.v <= v1.v GROUP BY v1.v),
        |exv AS (SELECT p, min(v) AS exact_v FROM ps JOIN cumv ON c >= r GROUP BY p),
        |f AS (SELECT CAST(e.p AS BIGINT) AS p,
        |        CAST(x.exact_v AS BIGINT) AS exact_v,
        |        CAST(CASE WHEN e.j <= 0 THEN 0 WHEN e.j = 1 THEN 1
        |             ELSE 3 * (1::BIGINT << (e.j - 2)) - 1 END AS BIGINT) AS est_v
        |      FROM est e JOIN exv x USING (p))
        |SELECT p, exact_v, est_v,
        |       ((est_v - exact_v) * 1000) // exact_v AS err_pm
        |FROM f""".stripMargin) {
      (s, d) =>
        val nt = table(s, d, "documents")
          .select(size(Dedup.tokens(col("text"))).cast("long").as("v"))
        val hist = Sketches.log2Histogram(nt)
        val vh = nt.groupBy("v").agg(count(lit(1)).as("n"))
        val ps = hist.agg(sum(col("n")).as("ntot"))
          .select(explode(array(lit(500L), lit(900L), lit(990L))).as("p"),
            col("ntot"))
          .withColumn("r", expr("(p * ntot + 999) div 1000"))
          .select("p", "r")
        val cumj = hist.as("h1")
          .join(hist.as("h2"), col("h2.j") <= col("h1.j"))
          .groupBy(col("h1.j").as("j")).agg(sum(col("h2.n")).as("c"))
        val est = broadcast(ps).join(cumj, col("c") >= col("r"))
          .groupBy("p").agg(min(col("j")).as("j"))
          .select(col("p"), Sketches.log2Midpoint(col("j")).as("est_v"))
        val cumv = vh.as("v1")
          .join(vh.as("v2"), col("v2.v") <= col("v1.v"))
          .groupBy(col("v1.v").as("v")).agg(sum(col("v2.n")).as("c"))
        val exact = broadcast(ps).join(cumv, col("c") >= col("r"))
          .groupBy("p").agg(min(col("v")).as("exact_v"))
        est.join(exact, "p")
          .select(col("p"), col("exact_v"), col("est_v"),
            expr("((est_v - exact_v) * 1000) div exact_v").as("err_pm"))
    },

    // Sequential-Poisson (order/priority) weighted sample — Ohlsson
    // 1998: priority = hash div weight, keep the k = 200 smallest, so
    // a document's inclusion probability is asymptotically ∝ its
    // token count — a without-replacement sample that is UNIFORM OVER
    // TOKENS, the budget-true way to eyeball or eval-sample a corpus
    // (uniform-over-docs under-represents the long documents that
    // dominate the token bill; q53/q59's stratified/resample rows are
    // uniform within strata). Deterministic: the 52-bit md5 hash
    // replaces rand(), so the sample reproduces under retry, replay,
    // and across engines — the oracle replays it row-for-row, rank
    // included. Scale shape: the k-smallest selection is a
    // distributed TakeOrdered (map-side partial top-k, never a global
    // sort), and the final rank runs over the bounded 200-row slice
    // via the q58 sorted-array spelling — no WindowExec at all.
    Q("q217_weighted_priority_sample",
      """WITH base AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT AS h
        |  FROM documents),
        |pri AS (SELECT doc_id, n_tok, h // n_tok AS pr FROM base),
        |r AS (SELECT doc_id, n_tok, pr,
        |        row_number() OVER (ORDER BY pr, doc_id) AS rnk
        |      FROM pri)
        |SELECT doc_id, n_tok, CAST(pr AS BIGINT) AS pr,
        |       CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 200""".stripMargin) {
      (s, d) =>
        val top = table(s, d, "documents")
          .select(col("doc_id"),
            size(Dedup.tokens(col("text"))).cast("long").as("n_tok"),
            Sketches.kmvHash52(col("doc_id").cast("string")).as("__h"))
          .withColumn("pr", expr("__h div n_tok"))
          .orderBy(col("pr"), col("doc_id"))
          .limit(200)
        top.agg(sort_array(collect_list(
            struct(col("pr"), col("doc_id"), col("n_tok")))).as("arr"))
          .select(posexplode(col("arr")).as(Seq("pos", "s")))
          .select(col("s.doc_id").as("doc_id"), col("s.n_tok").as("n_tok"),
            col("s.pr").as("pr"), (col("pos") + 1).cast("bigint").as("rnk"))
    },

    // STREAMING maintenance of the HLL registers — the sketch family's
    // stream==batch leg (the q200/q180 discipline): the shingle TYPE
    // table's append stream (what index maintenance sees at ingest —
    // the q205/q210 convention that increments ride the persisted
    // index, not a raw re-scan) arrives over multiple triggers and
    // ONE streaming max-aggregate keeps the 256 registers warm. The
    // streaming state is the SKETCH ITSELF — 256 rows, bounded for
    // the stream's lifetime at any corpus scale, which is exactly why
    // sketches are what production pipelines stream: max-merge makes
    // the final state independent of trigger pacing, arrival order,
    // restarts, AND multiplicity (the same shingle arriving again —
    // per-source rows here, raw occurrences in general — cannot move
    // a register; SketchSpec pins registers(multiset) ≡
    // registers(distinct)), so the drained registers are
    // INDISTINGUISHABLE from q213's batch registers and the oracle is
    // the identical batch estimate (n_reg = occupied registers, then
    // the estimate chain). No distinct is ever taken on the stream.
    Q("q218_stream_hll_maintenance",
      s"""WITH $hllCtes,
         |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_reg FROM rk)
         |SELECT nr.n_reg, es.n_est FROM nr, es""".stripMargin) {
      (s, d) =>
        val feed = Indexes.sourceShingles(s, d).select(col("w"))
        val scratch = java.nio.file.Files.createTempDirectory("graft_q218")
        val staging = s"$scratch/types"
        try {
          feed.repartitionByRange(4, col("w")).write.parquet(staging)
          val stream = s.readStream.schema(feed.schema)
            .option("maxFilesPerTrigger", 2).parquet(staging)
          val regs = Sketches.hllRegisters(stream)
          val sinkName = "q218_stream_hll_sink"
          s.catalog.dropTempView(sinkName)
          val q = regs.writeStream.format("memory").queryName(sinkName)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          try require(q.awaitTermination(300000),
            "q218: stream did not drain within 300s — partial registers")
          finally q.stop()
          val drained = s.table(sinkName)
          drained.agg(count(lit(1)).as("n_reg"))
            .crossJoin(Sketches.hllEstimate(s, drained))
        } finally
          org.apache.commons.io.FileUtils.deleteDirectory(scratch.toFile)
    }
  )
}
