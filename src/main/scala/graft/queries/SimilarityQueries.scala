package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Sources.table
import graft.ops.Similarity

/** Approximate-nearest-neighbor search over `embeddings.embedding`
  * (`Array[Float]`, 64-dim): brute-force cosine top-k as the exact
  * baseline, and an IVF-bucketed variant as the 100 TB scale path.
  * The DuckDB oracles evaluate the identical left-to-right fold
  * (products in double, sequential sum), so scores agree bit-for-bit
  * before the 6-decimal rounding that makes ranking deterministic.
  */
object SimilarityQueries {

  /** q140's pick count — interpolated into the generated greedy CTE
    * chain and passed to [[graft.ops.Similarity.mmrSelect]]. */
  private val MmrK = 8

  /** DuckDB-side deterministic fold mirrors of
    * [[graft.functions.Functions.dotProduct]] / `l2Norm`. */
  private[queries] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(list_zip($a, $b), p -> p[1]::DOUBLE * p[2]::DOUBLE)), (x, y) -> x + y)"
  private[queries] def normSql(a: String): String =
    s"sqrt(list_reduce(list_prepend(0.0::DOUBLE, list_transform($a, v -> v::DOUBLE * v::DOUBLE)), (x, y) -> x + y))"
  private[queries] def cosSql(a: String, b: String): String =
    s"round(${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}), 6)"

  /** Unrolled two-iteration Lloyd CTE chain in the same scaled-integer
    * space as [[graft.ops.Similarity.kmeansFit]] (init = `k`
    * smallest vec_ids; exact bigint squared euclidean; centroid update
    * = integer sum-div-count; empty cells keep their centroid),
    * parameterized so the PQ oracle (q82) can train one chain PER
    * SUBSPACE over a sliced vector: every CTE name carries `sfx`, the
    * trained codebook is `c1$sfx`, and `a2$sfx` = each vector's final
    * (cid, dist) under it. */
  private def kmeansCtes(sfx: String, vecExpr: String, k: Int): String =
    s"""sv$sfx AS (
       |  SELECT vec_id,
       |         list_transform($vecExpr, x -> CAST(round((CAST(x AS DOUBLE) + 4.0) * 1000000.0) AS BIGINT)) AS s
       |  FROM embeddings),
       |init$sfx AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, s
       |  FROM (SELECT * FROM sv$sfx ORDER BY vec_id LIMIT $k)),
       |a1$sfx AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_sum(list_transform(v.s, (x, i) -> (x - c.s[i]) * (x - c.s[i]))), c.cid) AS rn
       |    FROM sv$sfx v CROSS JOIN init$sfx c) WHERE rn = 1),
       |u$sfx AS (
       |  SELECT a.cid, generate_subscripts(v.s, 1) AS i, unnest(v.s) AS x
       |  FROM a1$sfx a JOIN sv$sfx v USING (vec_id)),
       |c1$sfx AS (
       |  SELECT init$sfx.cid, coalesce(agg.s, init$sfx.s) AS s
       |  FROM init$sfx LEFT JOIN (
       |    SELECT cid, list(q ORDER BY i) AS s
       |    FROM (SELECT cid, i, sum(x) // count(*) AS q FROM u$sfx GROUP BY cid, i)
       |    GROUP BY cid) agg USING (cid)),
       |a2$sfx AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT v.vec_id, c.cid,
       |           list_sum(list_transform(v.s, (x, i) -> (x - c.s[i]) * (x - c.s[i]))) AS dist,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_sum(list_transform(v.s, (x, i) -> (x - c.s[i]) * (x - c.s[i]))), c.cid) AS rn
       |    FROM sv$sfx v CROSS JOIN c1$sfx c) WHERE rn = 1)""".stripMargin

  /** Shared q68/q69 chain: the whole vector, k = 8, no suffix. */
  private val kmeansCtesSql: String = kmeansCtes("", "embedding", 8)

  /** [[kmeansCtes]] with a DYNAMIC cell count and an EXISTING scaled
    * CTE as input — the oracle leg of the two-level residual trainer
    * ([[graft.ops.Similarity.kmeansFitResidual]]). `src` must expose
    * (vec_id, s); k comes from the `params` CTE's `k1` (derived from
    * count(*), the [[rpSigCtes]] discipline: ONE oracle text serves
    * every corpus cardinality), so init selects the first k1 vec_ids
    * via QUALIFY instead of a constant LIMIT. CTE names carry `sfx`
    * (coarse level: "", fine level: "f"). */
  private def lloyd2DynCtes(sfx: String, src: String): String =
    s"""init$sfx AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, s
       |  FROM $src QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT k1 FROM params)),
       |a1$sfx AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_sum(list_transform(v.s, (x, i) -> (x - c.s[i]) * (x - c.s[i]))), c.cid) AS rn
       |    FROM $src v CROSS JOIN init$sfx c) WHERE rn = 1),
       |u$sfx AS (
       |  SELECT a.cid, generate_subscripts(v.s, 1) AS i, unnest(v.s) AS x
       |  FROM a1$sfx a JOIN $src v USING (vec_id)),
       |c1$sfx AS (
       |  SELECT init$sfx.cid, coalesce(agg.s, init$sfx.s) AS s
       |  FROM init$sfx LEFT JOIN (
       |    SELECT cid, list(q ORDER BY i) AS s
       |    FROM (SELECT cid, i, sum(x) // count(*) AS q FROM u$sfx GROUP BY cid, i)
       |    GROUP BY cid) agg USING (cid)),
       |a2$sfx AS (
       |  SELECT vec_id, cid, dist FROM (
       |    SELECT v.vec_id, c.cid,
       |           list_sum(list_transform(v.s, (x, i) -> (x - c.s[i]) * (x - c.s[i]))) AS dist,
       |           row_number() OVER (PARTITION BY v.vec_id
       |             ORDER BY list_sum(list_transform(v.s, (x, i) -> (x - c.s[i]) * (x - c.s[i]))), c.cid) AS rn
       |    FROM $src v CROSS JOIN c1$sfx c) WHERE rn = 1)""".stripMargin

  /** The full auto-k two-level residual cell assignment as CTEs:
    * `cells` = (vec_id, cid) under the
    * [[graft.ops.Similarity.autoCodebookK]] codebook. k1 = ⌈√k⌉ is
    * integer-exact via a bounded range scan (k ≤ 8192 ⇒ k1 ≤ 91 < 100
    * — no float sqrt at perfect squares); residuals shift by the same
    * +8·10⁶ the Scala side uses, keeping every component positive
    * where `//` and Spark's `/` agree. */
  private val autoCellsCtesSql: String =
    s"""params0 AS (
       |  SELECT greatest(8, least(8192, (count(*) + 63) // 64)) AS k
       |  FROM embeddings),
       |params AS (
       |  SELECT CAST(min(i) AS BIGINT) AS k1
       |  FROM range(1, 100) t(i), params0 WHERE i * i >= k),
       |sv AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round((CAST(x AS DOUBLE) + 4.0) * 1000000.0) AS BIGINT)) AS s
       |  FROM embeddings),
       |${lloyd2DynCtes("", "sv")},
       |rv AS (
       |  SELECT v.vec_id, a2.cid AS ccid,
       |         list_transform(list_zip(v.s, c.s), p -> p[1] - p[2] + 8000000) AS s
       |  FROM sv v JOIN a2 USING (vec_id) JOIN c1 c ON a2.cid = c.cid),
       |${lloyd2DynCtes("f", "rv")},
       |cells AS (
       |  SELECT rv.vec_id, rv.ccid * (SELECT k1 FROM params) + a2f.cid AS cid
       |  FROM rv JOIN a2f USING (vec_id))""".stripMargin

  /** Shared q42/q61 random-hyperplane signature CTEs (`params` + `sig`
    * with columns vec_id, b0, b1), mirroring
    * [[graft.ops.Similarity.rpSignatures]] with AUTO-SIZED planes per
    * band: np = ceil(log2(n/2)) clamped to [4, 40] — the exact integer
    * derivation of [[graft.ops.Similarity.autoPlanes]], expressed as
    * the binary length of n/2 − 1 so no float log can diverge between
    * engines. Band b evaluates planes [b·np, (b+1)·np) through the
    * same integer hyperplane formula; signatures are built by a
    * dynamically-sized `range(0, np)` lambda, so ONE oracle text
    * serves every corpus cardinality. */
  private def rpSigCtes: String = {
    def dot(p: String): String =
      s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(1,65), " +
        s"j -> embedding[j]::DOUBLE * ((1103515245*(($p)*64+j) + 12345) % 1000003 - 501001)::DOUBLE)), (x,y) -> x+y)"
    def band(p: String): String =
      s"list_sum(list_transform(range(0, np), p -> CASE WHEN ${dot(p)} > 0 " +
        s"THEN (1::BIGINT << CAST(p AS INT)) ELSE 0::BIGINT END))"
    s"""params AS (
       |  SELECT CAST(greatest(4, least(40, length(bin(greatest(count(*) // 2, 2) - 1)))) AS BIGINT) AS np
       |  FROM embeddings),
       |sig AS (
       |  SELECT vec_id, ${band("p")} AS b0, ${band("np + p")} AS b1
       |  FROM embeddings, params)""".stripMargin
  }

  /** Shared q41/q55/q154 sampled-centroid CTEs: `c(cid, cvec)` =
    * every m-th vector (offset 1) under the √n-SCALED modulus
    * m = [[graft.ops.Similarity.sampledCentroidModulus]] — the same
    * bounded-range integer scan, evaluated in SQL, so ONE oracle text
    * serves every corpus cardinality (the rpSigCtes discipline). At
    * the harness's oracle scales (n ≤ 1369) m = 37, the historical
    * config — results there are unchanged by construction. */
  private val ivfCentroidCtes: String =
    """cparams AS (
      |  SELECT CAST(37 * min(i) AS BIGINT) AS m
      |  FROM range(1, 1000) t(i), (SELECT count(*) AS n FROM embeddings)
      |  WHERE 1369 * i * i >= n),
      |c AS (SELECT vec_id AS cid, embedding AS cvec
      |      FROM embeddings, cparams WHERE vec_id % m = 1)""".stripMargin

  /** Spark mirror of [[ivfCentroidCtes]]: the corpus's sampled
    * centroid frame under the √n-scaled modulus. One count job
    * (parquet-statistics cheap) derives m. */
  private def sampledCentroids(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val m = Similarity.sampledCentroidModulus(e.count())
    e.filter(col("vec_id") % m === 1)
  }

  /** Banded candidate CTE over `sig`: pairs agreeing on at least one
    * of the two band signatures, as distinct (v1 < v2). */
  private val rpCandSql: String =
    """cand AS (
      |  SELECT a.vec_id AS v1, b.vec_id AS v2 FROM sig a
      |  JOIN sig b ON a.b0 = b.b0 AND a.vec_id < b.vec_id
      |  UNION
      |  SELECT a.vec_id AS v1, b.vec_id AS v2 FROM sig a
      |  JOIN sig b ON a.b1 = b.b1 AND a.vec_id < b.vec_id)""".stripMargin

  val all: Seq[Q] = Seq(

    // Brute-force exact cosine top-5 for a BOUNDED query batch: the
    // first 100 of the %50 sample points. Baseline for the IVF
    // variant below. Scale shape: a brute-force BASELINE has the same
    // contract as a recall audit (q154) — its cost must not grow with
    // the corpus. The old corpus-proportional batch (every 50th
    // vector, unbounded) made this row O(n²/50) by construction and
    // the r14 sf10 matrix measured it at 383× for 100× data (171.7 s,
    // 13% of the whole suite); bounding the batch to a constant
    // sample makes the declared work n·|batch| — linear, exactly
    // q154's proven discipline.
    Q("q40_cosine_knn",
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
         |           WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 100),
         |scored AS (
         |  SELECT q.qid, e.vec_id, ${cosSql("q.qvec", "e.embedding")} AS cos_r
         |  FROM embeddings e JOIN q ON e.vec_id <> q.qid),
         |ranked AS (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id) AS rnk, cos_r
         |  FROM scored)
         |SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, cos_r FROM ranked WHERE rnk <= 5""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "embeddings")
        val queries = e.filter(col("vec_id") % 50 === 0)
          .orderBy("vec_id").limit(100)
        Similarity.bruteForceKnn(e, queries, k = 5)
          .withColumn("rnk", col("rnk").cast("bigint"))
    },

    // IVF-bucketed ANN: vectors assigned to the nearest sampled
    // centroid (every m-th vector, m √n-scaled —
    // Similarity.sampledCentroidModulus), queries probe only their
    // own cell. The oracle reproduces assignment + in-cell ranking
    // exactly. Scale shape: the old fixed %37 made centroid count
    // ∝ n and the flat assignment fold n²/37 (27× at 100× data);
    // √n-scaling sets centroids AND occupancy to ~√n — assignment
    // n·√n, probe √n per query, the flat-IVF optimum (the TRAINED
    // auto-k index family, q69/q90/q205, remains the constant-
    // occupancy production path).
    Q("q41_ann_ivf",
      s"""WITH $ivfCentroidCtes,
         |assigned AS (
         |  SELECT vec_id, embedding, cid, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY ${cosSql("embedding", "cvec")} DESC, cid) AS crnk
         |  FROM embeddings CROSS JOIN c),
         |cells AS (SELECT vec_id, embedding, cid FROM assigned WHERE crnk = 1),
         |qc AS (SELECT vec_id AS qid, embedding AS qvec, cid FROM cells WHERE vec_id % 50 = 0),
         |scored AS (
         |  SELECT qc.qid, cells.vec_id, ${cosSql("qc.qvec", "cells.embedding")} AS cos_r
         |  FROM cells JOIN qc ON cells.cid = qc.cid AND cells.vec_id <> qc.qid),
         |ranked AS (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id) AS rnk, cos_r
         |  FROM scored)
         |SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, cos_r FROM ranked WHERE rnk <= 3""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "embeddings")
        Similarity.ivfKnn(
          corpus = e,
          centroids = sampledCentroids(e),
          queries = e.filter(col("vec_id") % 50 === 0),
          k = 3)
          .withColumn("rnk", col("rnk").cast("bigint"))
    },

    // ANN RECALL AUDIT — the index-quality measurement every
    // production ANN deployment runs before trusting its index:
    // recall@3 of the IVF result against the exact brute-force top-3
    // for every query point, per query (the aggregate mean hides
    // exactly the cold cells you need to see). Both sides use the
    // SAME scoring and tie-breaks as their declared counterparts
    // (q40/q41), so this row is also a cross-check tying the two
    // formulations together. Integer output: hits and ppm recall.
    // Scale shape: the audit sample is BOUNDED BY CONSTRUCTION (the
    // first 100 of the %50 query points — a recall audit's cost must
    // not grow with the corpus; measured: the unbounded %50 set made
    // the exact side O(n²/50) and 60× at 100× data, the bounded one
    // is the brute cost of exactly 100 queries at any scale); the
    // IVF side is a cell-local probe; the compare is a (qid, vec_id)
    // left join of two 3-row-per-query frames.
    Q("q154_ann_recall",
      s"""WITH $ivfCentroidCtes,
         |assigned AS (
         |  SELECT vec_id, embedding, cid, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY ${cosSql("embedding", "cvec")} DESC, cid) AS crnk
         |  FROM embeddings CROSS JOIN c),
         |cells AS (SELECT vec_id, embedding, cid FROM assigned WHERE crnk = 1),
         |qc AS (SELECT vec_id AS qid, embedding AS qvec, cid FROM cells
         |       WHERE vec_id % 50 = 0 ORDER BY vec_id LIMIT 100),
         |iscored AS (
         |  SELECT qc.qid, cells.vec_id, ${cosSql("qc.qvec", "cells.embedding")} AS cos_r
         |  FROM cells JOIN qc ON cells.cid = qc.cid AND cells.vec_id <> qc.qid),
         |iranked AS (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id) AS rnk
         |  FROM iscored),
         |itop AS (SELECT qid, vec_id FROM iranked WHERE rnk <= 3),
         |escored AS (
         |  SELECT qc.qid, e.vec_id, ${cosSql("qc.qvec", "e.embedding")} AS cos_r
         |  FROM embeddings e JOIN qc ON e.vec_id <> qc.qid),
         |eranked AS (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id) AS rnk
         |  FROM escored),
         |etop AS (SELECT qid, vec_id FROM eranked WHERE rnk <= 3)
         |SELECT e.qid, CAST(count(i.vec_id) AS BIGINT) AS n_hits,
         |       CAST((count(i.vec_id) * 1000000) // 3 AS BIGINT) AS recall_ppm
         |FROM etop e LEFT JOIN itop i ON i.qid = e.qid AND i.vec_id = e.vec_id
         |GROUP BY e.qid""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "embeddings")
        val queries = e.filter(col("vec_id") % 50 === 0)
          .orderBy("vec_id").limit(100)
        val exact = Similarity.bruteForceKnn(e, queries, k = 3)
          .select(col("qid"), col("vec_id"))
        val ivf = Similarity.ivfKnn(
            corpus = e,
            centroids = sampledCentroids(e),
            queries = queries, k = 3)
          .select(col("qid").as("iqid"), col("vec_id").as("ivid"))
        exact.join(ivf,
            col("qid") === col("iqid") && col("vec_id") === col("ivid"),
            "left")
          .groupBy("qid")
          .agg(count(col("ivid")).as("n_hits"),
            expr("(count(ivid) * 1000000) div 3").as("recall_ppm"))
    },

    // Distributed k-means codebook training (Lloyd, 2 assignment
    // passes) — the "trained upfront" half of the IVF story, and the
    // clustering core of SemDeDup-style semantic dedup. Everything is
    // scaled-integer math (Similarity.scaledVec): init = the k
    // smallest vec_ids, distances are exact bigint squared euclidean,
    // centroid updates are integer sum-div-count — so the oracle can
    // unroll the SAME two iterations and hash-match bit-for-bit, with
    // no float-summation-order hazard. Output: each vector's final
    // cell and exact scaled squared distance.
    Q("q68_kmeans_train",
      s"""WITH $kmeansCtesSql
         |SELECT vec_id, cid, CAST(dist AS BIGINT) AS dist FROM a2""".stripMargin) {
      (s, d) =>
        // The persisted assignment table — q68's oracle is what pins
        // the persisted cells against the from-scratch unrolled Lloyd
        // iterations (the same role q70/q32 play for their indexes).
        graft.queries.Indexes.kmeansCells(s, d)
    },

    // Cell-balanced diversity sampling: a fixed quota of vectors per
    // trained k-means cell, in deterministic hash order — the
    // embedding-space-COVERAGE eval-set primitive (uniform sampling
    // over-represents dense regions; per-cell quotas cover the space;
    // SemDeDup's clustering reused as coverage strata). Ranks within
    // cells come from Sampling.rankNormalize over the hash key — the
    // q117 two-phase machinery, so no cell's membership is ever
    // sorted in one partition (at 100 TB a cell holds n/k vectors —
    // a straggler by construction under a naive per-cell window).
    // The oracle is the naive per-cell row_number over the
    // from-scratch unrolled Lloyd assignments.
    Q("q124_cell_balanced_sample",
      s"""WITH $kmeansCtesSql,
         |hkey AS (SELECT vec_id, cid,
         |           ('0x' || substr(md5(CAST(vec_id AS VARCHAR)),1,15))::BIGINT
         |             % 1000000 AS hk
         |         FROM a2),
         |r AS (SELECT vec_id, cid,
         |        CAST(row_number() OVER (PARTITION BY cid
         |               ORDER BY hk, vec_id) - 1 AS BIGINT) AS rnk
         |      FROM hkey)
         |SELECT vec_id, cid, rnk FROM r WHERE rnk < 8""".stripMargin) {
      (s, d) =>
        import graft.ops.Sampling
        val cells = graft.queries.Indexes.kmeansCells(s, d).select("vec_id", "cid")
        Sampling.rankNormalize(cells, "cid", "vec_id",
            Sampling.sampleKey(col("vec_id")))
          .filter(col("rnk") < 8)
          .select("vec_id", "cid", "rnk")
    },

    // SemDeDup-style semantic dedup at the AUTO-SIZED blocking
    // codebook — the production default. Trained cells become the
    // blocking key, and within each cell a vector is dropped when any
    // LOWER-id vector sits within the cosine threshold — the greedy
    // single-pass survivor policy (deterministic, no transitivity;
    // the survivor-chain variant is the q57/q67 connected-components
    // family). Cross-cell near-dups are missed by design — that is
    // the SemDeDup trade: clustering as blocking makes pair work
    // linear-in-cell instead of corpus-quadratic — and the cell count
    // GROWS with the corpus (autoCodebookK: constant ~64 occupancy,
    // trained as a two-level residual codebook so the build is
    // O(√k·dim) per vector), because at any FIXED k the within-cell
    // pair work Σ C(n_c,2) is corpus-quadratic: the r12 sf10 matrix
    // measured this very query's old k=8 config at 178 s, its one
    // super-linear row. The oracle derives k from count(*) in SQL
    // (the rpSigCtes discipline), so one text gates every scale; the
    // boundedBucketSelfJoin cap keeps one hot cell from becoming one
    // straggler task (pair set provably unchanged, so the plain-join
    // oracle stays exact). Fixed-k configs remain as gate fixtures:
    // q68 (flat trainer, k=8), q168 (the explicit k=64 dial).
    Q("q69_semantic_dedup",
      s"""WITH $autoCellsCtesSql,
         |emb AS (
         |  SELECT e.vec_id, e.embedding, cells.cid
         |  FROM embeddings e JOIN cells USING (vec_id))
         |SELECT vec_id, cid FROM emb v
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM emb u
         |  WHERE u.cid = v.cid AND u.vec_id < v.vec_id
         |    AND ${cosSql("u.embedding", "v.embedding")} >= 0.35)""".stripMargin) {
      (s, d) =>
        import graft.functions.VectorExpressions.normF
        val e = table(s, d, "embeddings")
        // Blocking cells from the persisted auto-k codebook
        // assignment — SemDeDup never retrains per query.
        val cells = graft.queries.Indexes.kmeansCellsAuto(s, d)
          .select(col("vec_id"), col("cid"))
        val withVec = e.select(col("vec_id"), col("embedding"),
          normF(col("embedding")).as("nrm"))
          .join(cells, "vec_id")
        val dropped = graft.ops.Skew
          .boundedBucketSelfJoin(withVec, "cid", "vec_id", cap = 256)
          .withColumn("cos_r", Similarity.cosRoundedPre(
            col("embedding"), col("embedding_2"), col("nrm"), col("nrm_2")))
          .filter(col("cos_r") >= 0.35)
          .select(col("vec_id_2").as("vec_id")).distinct()
        withVec.join(dropped, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("cid"))
    },

    // SemDeDup at an EXPLICIT k=64 cell count — the measured k dial
    // between the fixed k=8 flat gate (q68's trainer config) and
    // q69's auto-sized default. Within-cell pair work is Σ C(n_c, 2),
    // which at FIXED k grows quadratically with the corpus (the r12
    // sf10 matrix measured k=8 at 178 s); this row documents what the
    // k dial alone buys: identical dedup semantics (same threshold,
    // same survivor policy, same skew-capped self join), only the
    // blocking codebook changes — k=64 from the persisted
    // kmeans_cells_k64 index. q69 carries the production answer
    // (auto-k, constant occupancy at any corpus scale).
    Q("q168_semantic_dedup_scaled",
      s"""WITH ${kmeansCtes("", "embedding", 64)},
         |emb AS (
         |  SELECT e.vec_id, e.embedding, a2.cid
         |  FROM embeddings e JOIN a2 USING (vec_id))
         |SELECT vec_id, cid FROM emb v
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM emb u
         |  WHERE u.cid = v.cid AND u.vec_id < v.vec_id
         |    AND ${cosSql("u.embedding", "v.embedding")} >= 0.35)""".stripMargin) {
      (s, d) =>
        import graft.functions.VectorExpressions.normF
        val e = table(s, d, "embeddings")
        val cells = graft.queries.Indexes.kmeansCells64(s, d)
          .select(col("vec_id"), col("cid"))
        val withVec = e.select(col("vec_id"), col("embedding"),
          normF(col("embedding")).as("nrm"))
          .join(cells, "vec_id")
        val dropped = graft.ops.Skew
          .boundedBucketSelfJoin(withVec, "cid", "vec_id", cap = 256)
          .withColumn("cos_r", Similarity.cosRoundedPre(
            col("embedding"), col("embedding_2"), col("nrm"), col("nrm_2")))
          .filter(col("cos_r") >= 0.35)
          .select(col("vec_id_2").as("vec_id")).distinct()
        withVec.join(dropped, Seq("vec_id"), "left_anti")
          .select(col("vec_id"), col("cid"))
    },

    // INCREMENTAL semantic dedup — the production ingest path for the
    // embedding family (the q43/q108/q113/q182 batch×corpus discipline
    // applied to SemDeDup, closing the one near-dup family that had
    // only from-scratch). A new batch (modeled as the top-10% vec_ids
    // — crawl-order ingest, so batch ids exceed every corpus id)
    // probes the PERSISTED kmeans_cells_auto index: batch vectors
    // carry their cell assignments (what the residual-codebook fold
    // computes at index-append time), and comparison happens only
    // within matched cells. The greedy policy drops v iff ANY
    // lower-id same-cell vector sits within the threshold — so with
    // batch ids above corpus ids, from-scratch(corpus ∪ batch) ≡
    // survivors(corpus) ∪ [batch minus (batch×corpus hits ∪
    // batch×lower-id-batch hits)], and this row's output hash-matches
    // q69's from-scratch oracle VERBATIM. Work bound: |batch| ×
    // cell occupancy — and auto-k pins occupancy at ~64 regardless of
    // corpus size, so the probe is linear in the batch with a
    // CONSTANT factor (never corpus²); the within-batch half rides
    // the same skew-capped self join as q69.
    Q("q205_semantic_dedup_incremental",
      s"""WITH $autoCellsCtesSql,
         |emb AS (
         |  SELECT e.vec_id, e.embedding, cells.cid
         |  FROM embeddings e JOIN cells USING (vec_id))
         |SELECT vec_id, cid FROM emb v
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM emb u
         |  WHERE u.cid = v.cid AND u.vec_id < v.vec_id
         |    AND ${cosSql("u.embedding", "v.embedding")} >= 0.35)""".stripMargin) {
      (s, d) =>
        import graft.functions.VectorExpressions.normF
        val e = table(s, d, "embeddings")
        val cells = graft.queries.Indexes.kmeansCellsAuto(s, d)
          .select(col("vec_id"), col("cid"))
        val withVec = e.select(col("vec_id"), col("embedding"),
          normF(col("embedding")).as("nrm"))
          .join(cells, "vec_id")
        val mx = withVec.agg(max(col("vec_id"))).collect()(0).getLong(0)
        val cut = mx * 9L / 10L
        val corpus = withVec.filter(col("vec_id") < cut)
        val batch = withVec.filter(col("vec_id") >= cut)
        def droppedWithin(side: org.apache.spark.sql.DataFrame) =
          graft.ops.Skew
            .boundedBucketSelfJoin(side, "cid", "vec_id", cap = 256)
            .withColumn("cos_r", Similarity.cosRoundedPre(
              col("embedding"), col("embedding_2"), col("nrm"), col("nrm_2")))
            .filter(col("cos_r") >= 0.35)
            .select(col("vec_id_2").as("vec_id")).distinct()
        // Existing survivors — the persisted survivor table in
        // production, recomputed here from the same index so the row
        // is self-contained.
        val corpusSurvivors = corpus
          .join(droppedWithin(corpus), Seq("vec_id"), "left_anti")
        // Batch probe vs the WHOLE same-cell corpus slice (the policy
        // tests against any lower-id vector, survivor or not — and
        // every corpus id is below every batch id by construction).
        val vsCorpus = batch
          .join(corpus.select(col("cid"), col("embedding").as("embedding_c"),
            col("nrm").as("nrm_c")), Seq("cid"))
          .withColumn("cos_r", Similarity.cosRoundedPre(
            col("embedding"), col("embedding_c"), col("nrm"), col("nrm_c")))
          .filter(col("cos_r") >= 0.35)
          .select(col("vec_id")).distinct()
        val batchSurvivors = batch
          .join(vsCorpus.union(droppedWithin(batch)).distinct(),
            Seq("vec_id"), "left_anti")
        corpusSurvivors.select(col("vec_id"), col("cid"))
          .union(batchSurvivors.select(col("vec_id"), col("cid")))
    },

    // Product quantization ANN (Jégou et al.): the 64-dim vector
    // splits into 4 subspaces of 16 dims, each trained to its own
    // 4-entry scaled-integer k-means codebook (the q68 recipe, once
    // per subspace); vectors compress to 4 codes; queries rank the
    // corpus by ASYMMETRIC distance — sum over subspaces of the exact
    // bigint squared distance from the query's subvector to the
    // centroid each code names. All-integer → the oracle unrolls the
    // same four training chains and agrees bit-for-bit. At scale the
    // codes table is the memory story (4 bytes/vector here; 8-byte
    // codes for 768-dim in production) and ADC is the quantized-scan
    // kernel; production composes it with IVF cells (IVF-PQ) exactly
    // like q41/q55 compose cells with exact cosine.
    Q("q82_pq_ann", {
      val subs = 0 until 4
      val chains = subs.map(j =>
        kmeansCtes(j.toString, s"embedding[${j * 16 + 1}:${(j + 1) * 16}]", 4))
        .mkString(",\n")
      val codeCols = subs.map(j => s"v$j.cid AS c$j").mkString(", ")
      val codeJoins = subs.map(j =>
        if (j == 0) "FROM a20 v0"
        else s"JOIN a2$j v$j USING (vec_id)").mkString(" ")
      val cbJoins = subs.map(j => s"JOIN c1$j k$j ON k$j.cid = codes.c$j").mkString(" ")
      val distTerms = subs.map(j =>
        s"list_sum(list_transform(range(1,17), i -> (q.qs[${j * 16} + i] - k$j.s[i]) * (q.qs[${j * 16} + i] - k$j.s[i])))")
        .mkString("\n         + ")
      s"""WITH $chains,
         |q AS (
         |  SELECT vec_id AS qid,
         |         list_transform(embedding, x -> CAST(round((CAST(x AS DOUBLE) + 4.0) * 1000000.0) AS BIGINT)) AS qs
         |  FROM embeddings WHERE vec_id < 40),
         |codes AS (
         |  SELECT v0.vec_id, $codeCols $codeJoins),
         |adc AS (
         |  SELECT q.qid, codes.vec_id,
         |         $distTerms AS adist
         |  FROM q CROSS JOIN codes $cbJoins
         |  WHERE codes.vec_id <> q.qid),
         |ranked AS (
         |  SELECT qid, vec_id, adist,
         |         row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rnk
         |  FROM adc)
         |SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, CAST(adist AS BIGINT) AS adist
         |FROM ranked WHERE rnk <= 5""".stripMargin
    }) {
      (s, d) =>
        // Codebooks and codes from the per-corpus index registry —
        // training and encoding run once per process (Bench's warmup),
        // the timed path is ADC over the persisted codes table (the
        // production flow; q82's oracle still pins the full chain
        // against a from-scratch DuckDB train+encode+search). The
        // query batch is FIXED-SIZE (the 40 lowest vec_ids — a
        // bounded-QPS stand-in), so flat ADC's declared work is
        // n·|batch|, linear in the corpus; the r9 sf10 probe measured
        // the old corpus-proportional `% 50` batch at 518× for 100×
        // data (n²/50 by construction). The corpus-pruning production
        // path remains q90's IVF-PQ.
        val cbs = graft.queries.Indexes.pqCodebooks(s, d)
        val codes = graft.queries.Indexes.pqCodes(s, d)
        Similarity.pqTopK(codes, cbs,
            table(s, d, "embeddings").filter(col("vec_id") < 40), k = 5)
          .withColumn("rnk", col("rnk").cast("bigint"))
    },

    // IVF-PQ — the production ANN composition, and the capstone of
    // the similarity family: the AUTO-K residual cells (q69/q205's
    // blocking index) prune candidates to the query's own cell,
    // q82's codes+codebooks score the survivors by asymmetric
    // distance. Per query: |cell| × m integer lookups, never
    // |corpus| × dim float ops — and because auto-k pins cell
    // occupancy at ~64 regardless of corpus size
    // (Similarity.autoCodebookK), the per-query probe is CONSTANT,
    // not ∝ n. The previous fixed-k=8 index made occupancy ∝ n and
    // the row quadratic (r14 sf10: 86× at 100× data, 68.1 s); this is
    // the same swap q205 made when it reused q69's cells. Both corpus
    // artifacts come from the index registry (built once per
    // process); the oracle recomposes the ENTIRE chain from scratch —
    // two-level residual k-means cells, four subspace trainings,
    // encode, in-cell ADC — and must hash-match bit-for-bit.
    Q("q90_ivf_pq", {
      val subs = 0 until 4
      val chains = subs.map(j =>
        kmeansCtes(j.toString, s"embedding[${j * 16 + 1}:${(j + 1) * 16}]", 4))
        .mkString(",\n")
      val codeCols = subs.map(j => s"v$j.cid AS c$j").mkString(", ")
      val codeJoins = subs.map(j =>
        if (j == 0) "FROM a20 v0"
        else s"JOIN a2$j v$j USING (vec_id)").mkString(" ")
      val cbJoins = subs.map(j => s"JOIN c1$j k$j ON k$j.cid = codes.c$j").mkString(" ")
      val distTerms = subs.map(j =>
        s"list_sum(list_transform(range(1,17), i -> (q.qs[${j * 16} + i] - k$j.s[i]) * (q.qs[${j * 16} + i] - k$j.s[i])))")
        .mkString("\n         + ")
      s"""WITH $autoCellsCtesSql,
         |$chains,
         |q AS (
         |  SELECT sv.vec_id AS qid, cells.cid AS qcid, sv.s AS qs
         |  FROM sv JOIN cells USING (vec_id) WHERE sv.vec_id % 50 = 0),
         |codes AS (
         |  SELECT v0.vec_id, $codeCols $codeJoins),
         |adc AS (
         |  SELECT q.qid, codes.vec_id,
         |         $distTerms AS adist
         |  FROM q JOIN cells cell ON cell.cid = q.qcid AND cell.vec_id <> q.qid
         |  JOIN codes ON codes.vec_id = cell.vec_id $cbJoins),
         |ranked AS (
         |  SELECT qid, vec_id, adist,
         |         row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rnk
         |  FROM adc)
         |SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, CAST(adist AS BIGINT) AS adist
         |FROM ranked WHERE rnk <= 5""".stripMargin
    }) {
      (s, d) =>
        val cells = graft.queries.Indexes.kmeansCellsAuto(s, d)
        Similarity.ivfPqTopK(cells,
            graft.queries.Indexes.pqCodes(s, d),
            graft.queries.Indexes.pqCodebooks(s, d),
            table(s, d, "embeddings").filter(col("vec_id") % 50 === 0), k = 5)
          .withColumn("rnk", col("rnk").cast("bigint"))
    },

    // IVF with nProbe = 2 — the recall/cost knob of a real IVF
    // deployment: each query scores candidates from its TWO nearest
    // cells (2× the candidate cost of q41, still never the whole
    // corpus), recovering neighbors that fell just across a cell
    // boundary. The oracle reproduces probe selection (same rounded
    // cosine, same cid tie-break) and in-cell ranking exactly.
    Q("q55_ann_ivf_nprobe",
      s"""WITH $ivfCentroidCtes,
         |assigned AS (
         |  SELECT vec_id, embedding, cid, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY ${cosSql("embedding", "cvec")} DESC, cid) AS crnk
         |  FROM embeddings CROSS JOIN c),
         |cells AS (SELECT vec_id, embedding, cid FROM assigned WHERE crnk = 1),
         |qv AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id % 50 = 0),
         |qprobe AS (
         |  SELECT qid, qvec, cid, row_number() OVER (
         |    PARTITION BY qid ORDER BY ${cosSql("qvec", "cvec")} DESC, cid) AS pr
         |  FROM qv CROSS JOIN c),
         |qc AS (SELECT qid, qvec, cid FROM qprobe WHERE pr <= 2),
         |scored AS (
         |  SELECT qc.qid, cells.vec_id, ${cosSql("qc.qvec", "cells.embedding")} AS cos_r
         |  FROM cells JOIN qc ON cells.cid = qc.cid AND cells.vec_id <> qc.qid),
         |ranked AS (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id) AS rnk, cos_r
         |  FROM scored)
         |SELECT qid, vec_id, CAST(rnk AS BIGINT) AS rnk, cos_r FROM ranked WHERE rnk <= 3""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "embeddings")
        Similarity.ivfKnn(
          corpus = e,
          centroids = sampledCentroids(e),
          queries = e.filter(col("vec_id") % 50 === 0),
          k = 3, nProbe = 2)
          .withColumn("rnk", col("rnk").cast("bigint"))
    },

    // Embedding-cosine near-dup: pairs above a cosine threshold,
    // candidate-pruned to same-cluster buckets (the `label` column is
    // the precomputed IVF/cluster assignment) REFINED by the shared
    // RP-LSH band signatures — the embedding-space member of the
    // dedup family. A label ALONE is a fixed bucket count, so
    // within-label pair work is n²/|labels| (the r9 sf10 probe
    // measured 137× at 100× data); composing each label bucket with
    // the auto-sized band signature ([[graft.ops.Similarity
    // .autoPlanes]] — occupancy ~2 at any cardinality) keeps
    // candidate work ∝ n·occupancy, linear. Buckets beyond the cap
    // still split into bounded task cells
    // ([[graft.ops.Skew.boundedBucketSelfJoin]] — degenerate
    // embeddings must not become one straggler task). The oracle
    // replays the identical hyperplanes and band rule, so the pair
    // set agrees bit-for-bit. At 100 TB the label comes from the IVF
    // pass ([[graft.ops.Similarity.assignCells]]) materialized once;
    // here the harness ships it as `label`, and the signatures ride
    // the persisted [[graft.queries.Indexes.rpSignatures]] table q61
    // shares.
    Q("q42_embed_neardup",
      s"""WITH $rpSigCtes,
         |$rpCandSql
         |SELECT v1, v2, ea.label, ${cosSql("ea.embedding", "eb.embedding")} AS cos_r
         |FROM cand JOIN embeddings ea ON ea.vec_id = v1
         |          JOIN embeddings eb ON eb.vec_id = v2
         |WHERE ea.label = eb.label
         |  AND ${cosSql("ea.embedding", "eb.embedding")} >= 0.35""".stripMargin) {
      (s, d) =>
        import graft.functions.VectorExpressions.normF
        val e = table(s, d, "embeddings")
          .select(col("vec_id"), col("label"), col("embedding"),
            normF(col("embedding")).as("nrm"))
        val rows = e.join(graft.queries.Indexes.rpSignatures(s, d), "vec_id")
          .select(col("vec_id"), col("label"), col("embedding"), col("nrm"),
            posexplode(array(col("b0"), col("b1"))).as(Seq("__band", "__bsig")))
          .withColumn("__bkt", struct(col("label"), col("__band"), col("__bsig")))
        graft.ops.Skew.boundedBucketSelfJoin(rows, "__bkt", "vec_id", cap = 256)
          .select(col("vec_id").as("v1"), col("vec_id_2").as("v2"), col("label"),
            col("embedding").as("e1"), col("embedding_2").as("e2"),
            col("nrm").as("n1"), col("nrm_2").as("n2"))
          // A pair agreeing on BOTH bands met in two buckets: dedup
          // before scoring (rows are bit-identical, occupancy-bounded).
          .distinct()
          .withColumn("cos_r", Similarity.cosRoundedPre(
            col("e1"), col("e2"), col("n1"), col("n2")))
          .filter(col("cos_r") >= 0.35)
          .select(col("v1"), col("v2"), col("label"), col("cos_r"))
    },

    // SEMANTIC eval decontamination — q148's lexical gate in
    // embedding space: corpus vectors too close (cosine ≥ 0.35) to
    // any eval vector (the vec_id % 13 membership convention) are
    // flagged before training — paraphrased benchmark leakage that
    // shares no 10-token run and no shingle slips past every lexical
    // gate; the embedding probe is the standard second net. Same
    // scale shape as q61: candidates from the AUTO-SIZED
    // random-hyperplane band buckets (never all-pairs), but
    // ASYMMETRIC — eval bands probe corpus bands through a
    // hot-key-salted equi join (result-identical to the plain join,
    // so the oracle is the plain banded formulation), then exact
    // cosine verification on the survivors. At 100 TB: |eval| band
    // rows against a banded index, per-bucket fan-out bounded by the
    // auto-sized plane count, stragglers split by the salt.
    Q("q152_semantic_decontaminate",
      s"""WITH $rpSigCtes,
         |cand AS (
         |  SELECT a.vec_id AS ve, b.vec_id AS vc FROM sig a
         |  JOIN sig b ON a.b0 = b.b0
         |  WHERE a.vec_id % 13 = 0 AND b.vec_id % 13 <> 0
         |  UNION
         |  SELECT a.vec_id AS ve, b.vec_id AS vc FROM sig a
         |  JOIN sig b ON a.b1 = b.b1
         |  WHERE a.vec_id % 13 = 0 AND b.vec_id % 13 <> 0)
         |SELECT vc AS vec_id, ve AS eval_id,
         |       ${cosSql("ec.embedding", "ee.embedding")} AS cos_r
         |FROM cand JOIN embeddings ec ON ec.vec_id = vc
         |          JOIN embeddings ee ON ee.vec_id = ve
         |WHERE ${cosSql("ec.embedding", "ee.embedding")} >= 0.35""".stripMargin) {
      (s, d) =>
        import graft.functions.VectorExpressions.normF
        val e = table(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
            normF(col("embedding")).as("nrm"))
        val bands = e.join(graft.queries.Indexes.rpSignatures(s, d), "vec_id")
          .select(col("vec_id"), col("embedding"), col("nrm"),
            posexplode(array(col("b0"), col("b1"))).as(Seq("__band", "__bsig")))
          .withColumn("__bkt", struct(col("__band"), col("__bsig")))
        val evalB = bands.filter(col("vec_id") % 13 === 0)
          .select(col("__bkt"), col("vec_id").as("eval_id"),
            col("embedding").as("e_emb"), col("nrm").as("e_nrm"))
        val corpB = bands.filter(col("vec_id") % 13 =!= 0)
          .select(col("__bkt"), col("vec_id"), col("embedding"), col("nrm"))
        graft.ops.Skew.saltedJoinHot(corpB, evalB, "__bkt",
            saltBy = col("vec_id"), salts = 16,
            hotCap = graft.ops.Dedup.DefaultHotShingleCap)
          // A pair agreeing on BOTH bands met in two buckets: dedup
          // before the exact-cosine verify.
          .select(col("vec_id"), col("eval_id"), col("embedding"),
            col("e_emb"), col("nrm"), col("e_nrm")).distinct()
          .withColumn("cos_r", Similarity.cosRoundedPre(
            col("embedding"), col("e_emb"), col("nrm"), col("e_nrm")))
          .filter(col("cos_r") >= 0.35)
          .select(col("vec_id"), col("eval_id"), col("cos_r"))
    },

    // Random-hyperplane LSH near-dup: sign-of-dot band signatures
    // (two bands of AUTO-SIZED plane count over deterministic integer
    // hyperplanes — [[graft.ops.Similarity.rpWeights]] sized by
    // [[graft.ops.Similarity.autoPlanes]], so bucket space grows with
    // the corpus and pair work stays linear), candidates from ONE
    // banded self equi join (never all-pairs, the cosine-space
    // analogue of q31's MinHash banding and the label-free complement
    // of q42 — it needs no precomputed cluster column), verified with
    // exact cosine. The oracle derives the identical plane count and
    // evaluates the identical integer hyperplanes and fold, so the
    // candidate set and scores agree bit-for-bit.
    Q("q61_rp_lsh",
      s"""WITH $rpSigCtes,
         |$rpCandSql
         |SELECT v1, v2, ${cosSql("ea.embedding", "eb.embedding")} AS cos_r
         |FROM cand JOIN embeddings ea ON ea.vec_id = v1
         |          JOIN embeddings eb ON eb.vec_id = v2
         |WHERE ${cosSql("ea.embedding", "eb.embedding")} >= 0.35""".stripMargin) {
      (s, d) =>
        import graft.functions.VectorExpressions.normF
        // Rebalanced: the 16 hyperplane dots per vector dominate the
        // scan, and the local corpus is one parquet file (one task).
        // Signatures come from the persisted table
        // ([[graft.queries.Indexes.rpSignatures]]) — both sides of the
        // candidate self join read parquet, never re-run the dots.
        val e = graft.io.Sources.tableRebalanced(s, d, "embeddings")
        val ev = e.select(col("vec_id"), col("embedding"),
          normF(col("embedding")).as("nrm"))
        val sigs = graft.queries.Indexes.rpSignatures(s, d)
        Similarity.rpCandidatesFromSigs(sigs, "vec_id")
          .join(ev.select(col("vec_id").as("v1"), col("embedding").as("e1"),
            col("nrm").as("n1")), "v1")
          .join(ev.select(col("vec_id").as("v2"), col("embedding").as("e2"),
            col("nrm").as("n2")), "v2")
          .withColumn("cos_r", Similarity.cosRoundedPre(
            col("e1"), col("e2"), col("n1"), col("n2")))
          .filter(col("cos_r") >= 0.35)
          .select("v1", "v2", "cos_r")
    },

    // Maximal Marginal Relevance: k relevant-but-diverse picks for a
    // query vector — the eval-set / few-shot example selection step
    // (plain top-k returns near-copies of the best hit; the
    // λ·rel − (1−λ)·max-sim-to-selected penalty forces coverage). See
    // [[graft.ops.Similarity.mmrSelect]] for the scale shape (k map
    // passes + TakeOrdered(1) argmaxes, incremental max-sim, zero
    // shuffles). The oracle replays the greedy chain as k generated
    // CTE rounds — argmax, exclusion, and the incremental
    // greatest-fold all in the same rounded-double space.
    Q("q140_mmr_select", {
      val k = MmrK
      val ctes = new StringBuilder(
        s"""q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id = 0),
           |cand AS (SELECT e.vec_id, e.embedding, ${cosSql("q.qvec", "e.embedding")} AS rel
           |         FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
           |s1 AS (SELECT vec_id, embedding, rel, rel AS score
           |       FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
           |m1 AS (SELECT c.vec_id, c.embedding, c.rel,
           |         ${cosSql("c.embedding", "s.embedding")} AS ms
           |       FROM cand c CROSS JOIN s1 s WHERE c.vec_id <> s.vec_id)""".stripMargin)
      for (i <- 2 to k) {
        ctes.append(
          s""",
             |s$i AS (SELECT vec_id, embedding, rel, 0.7 * rel - 0.3 * ms AS score
             |       FROM m${i - 1} ORDER BY score DESC, vec_id LIMIT 1)""".stripMargin)
        if (i < k) ctes.append(
          s""",
             |m$i AS (SELECT m.vec_id, m.embedding, m.rel,
             |         greatest(m.ms, ${cosSql("m.embedding", "s.embedding")}) AS ms
             |       FROM m${i - 1} m CROSS JOIN s$i s WHERE m.vec_id <> s.vec_id)""".stripMargin)
      }
      val sel = (1 to k).map(i =>
        s"SELECT CAST($i AS BIGINT) AS sel_rank, vec_id, rel AS rel_r, round(score, 6) AS score_r FROM s$i")
        .mkString("\nUNION ALL\n")
      s"WITH ${ctes.toString}\n$sel"
    }) {
      (s, d) =>
        Similarity.mmrSelect(table(s, d, "embeddings"), queryId = 0L,
          k = MmrK)
    }
  )
}
