package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph scoring over integer-exact arithmetic — the
  * domain-authority step of web-scale corpus curation (rank sources by
  * how much *other* sources quote their content, then weight or gate
  * documents by their source's rank; the Common-Crawl-style domain
  * ranking used to pick crawl frontiers and quality priors).
  *
  * Everything is scaled-integer math (`div`, never `/`): rank mass is
  * carried as units of 1/[[Scale]], out-edge probabilities as ppm, so
  * any engine replaying the same iterations — the DuckDB oracle unrolls
  * them as CTEs — reproduces every rank bit-for-bit. Integer division
  * leaks a sub-ulp of mass per edge per iteration (the floor), which is
  * deterministic and bounded by |E|/[[PpmScale]] per pass — a
  * documented bias, not a correctness hazard.
  *
  * Scale shape (the 100 TB reading): one iteration = one equi join of
  * the rank table (|V| rows — domains, not documents: ~10⁷ at web
  * scale) against the edge table on the source endpoint, then one
  * aggregation shuffled by the destination — the Pregel message
  * pattern expressed as DataFrame ops, Catalyst picks broadcast vs
  * shuffle join by the rank table's actual size. The whole computation
  * is ONE lazy plan: the teleport term rides a broadcast 1-row count
  * frame (the scalar-subquery shape, so no driver action at
  * construction), and the edge/universe subtrees appear once per
  * iteration but canonicalize identically, so ReuseExchange evaluates
  * each underlying shuffle once. Plan depth is linear in `iters` —
  * bounded by the [[MaxIters]] guard, NOT by corpus size; past ~16
  * iterations callers should truncate lineage every few iterations
  * (the [[Bpe]] discipline) — production PageRank converges in ≤ 10.
  * Dangling nodes (no out-edges) simply stop forwarding mass — the
  * vanishing-mass PageRank variant — and every node keeps the teleport
  * floor, so no rank is ever zero.
  */
object Graph {

  /** Rank mass unit: ranks are integers summing to ≈ [[Scale]]. 10⁹
    * keeps the per-edge product 85·r·p ≤ 8.5·10¹⁶ ≪ 2⁶³ at ANY corpus
    * size (r ≤ Scale by mass conservation, p ≤ [[PpmScale]]). */
  val Scale = 1000000000L

  /** Out-edge probabilities are ppm: p(u,v) = (w·10⁶) div W(u). */
  val PpmScale = 1000000L

  /** Unrolled-plan depth guard — see the class doc. */
  val MaxIters = 16

  /** Damping factor as a percent (85 = the classic 0.85). */
  val DampingPct = 85

  /** CONTRACT CHECK: `universe` (column `v`) must be a superset of
    * every edge endpoint. A violation would otherwise be silently
    * wrong, not loudly: a source u outside the universe contributes
    * nothing (the rank join filters it), a destination v outside loses
    * its mass in the left join — while the edge's weight STILL
    * inflates u's out-edge denominator, deflating its real neighbors'
    * ranks. The check is embedded IN the lazy plan (raise_error on the
    * first violating edge at execution time — no driver action at
    * construction): two equi joins against the |V|-row universe whose
    * exchanges canonicalize with the iteration joins, so the marginal
    * cost is one pass over the edges. */
  private def checkedEdges(op: String, edges: DataFrame, universe: DataFrame): DataFrame =
    edges
      .join(universe.select(col("v").as("u"), lit(1L).as("__su")),
        Seq("u"), "left")
      .join(universe.select(col("v"), lit(1L).as("__sv")),
        Seq("v"), "left")
      .select(col("u"), col("v"),
        when(col("__su").isNull || col("__sv").isNull,
          raise_error(concat(
            lit(s"$op: edge endpoint outside node universe: ("),
            col("u").cast("string"), lit(" -> "),
            col("v").cast("string"), lit(")"))).cast("bigint"))
          .otherwise(col("w")).as("w"))

  /** Damped, weighted PageRank.
    *
    * @param edges  (u, v, w) directed weighted edges, `w` positive
    *               bigint. Multi-edges should be pre-aggregated.
    * @param nodes  one row per node (the rank universe — includes
    *               nodes with no edges, which hold the teleport floor).
    * @param nodeCol node id column name in `nodes`.
    * @param iters  power-iteration count (unrolled by oracles).
    * @return (v, rank) — `nodeCol`'s values under the name `v`, rank in
    *         units of 1/[[Scale]].
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, nodeCol: String,
               iters: Int, validateEdges: Boolean = true): DataFrame = {
    require(iters >= 1 && iters <= MaxIters,
      s"pageRank: iters out of range: $iters")
    val universe = nodes.select(col(nodeCol).as("v")).distinct()
    // Callers on a measured hot path with an upstream guarantee may
    // skip the `checkedEdges` contract check.
    val checked =
      if (!validateEdges) edges else checkedEdges("pageRank", edges, universe)
    // |V| rides every rank row as a broadcast 1-row frame — the
    // teleport and seed terms are exact integer expressions over it,
    // mirrored by the oracle's scalar subqueries.
    val nn = universe.agg(count(lit(1)).as("__n"))
    val base = universe.crossJoin(broadcast(nn))
    val seed = expr(s"$Scale div __n")
    val teleport = expr(s"((100 - $DampingPct) * ($Scale div __n)) div 100")
    // Per-edge ppm transition weights; the subtree recurs once per
    // iteration and ReuseExchange evaluates its shuffles once.
    val outW = checked.groupBy(col("u")).agg(sum(col("w")).as("__tw"))
    val e2 = checked.join(outW, "u")
      .select(col("u"), col("v"), expr(s"(w * $PpmScale) div __tw").as("p"))
    val contribExpr = expr(s"($DampingPct * r * p) div ${100L * PpmScale}")
    var rank = base.select(col("v"), seed.as("r"))
    for (_ <- 1 to iters) {
      val contrib = e2.join(rank.withColumnRenamed("v", "u"), "u")
        .select(col("v"), contribExpr.as("__c"))
        .groupBy("v").agg(sum(col("__c")).as("__m"))
      rank = base.join(contrib, Seq("v"), "left")
        .select(col("v"),
          (teleport + coalesce(col("__m"), lit(0L))).as("r"))
    }
    rank
  }

  /** PERSONALIZED (seed-teleport) PageRank — the TrustRank recipe
    * (Gyöngyi/Garcia-Molina/Pedersen, public): the teleport mass
    * lands ONLY on `seeds`, so rank measures reachability from a
    * trusted set through the citation structure — the
    * seed-expansion move behind trusted-domain curation (start from
    * a vetted allowlist, let citation propagate trust, threshold
    * the result). Same integer mass units, same vanishing-mass
    * dangling treatment, same one-lazy-plan shape as [[pageRank]];
    * the only changes are the initial distribution (`Scale div
    * |seeds|` on seeds, 0 elsewhere) and the per-iteration teleport
    * (seeds only). Nodes unreachable from the seed set rank exactly
    * 0 — the property the thresholding consumer relies on.
    *
    * @param seeds one row per seed node under `nodeCol`'s name —
    *              must be a subset of `nodes` (checked: an absent
    *              seed would silently leak teleport mass). */
  def personalizedPageRank(edges: DataFrame, nodes: DataFrame,
                           nodeCol: String, seeds: DataFrame,
                           iters: Int): DataFrame = {
    require(iters >= 1 && iters <= MaxIters,
      s"personalizedPageRank: iters out of range: $iters")
    val universe = nodes.select(col(nodeCol).as("v")).distinct()
    val seedSet = seeds.select(col(nodeCol).as("v")).distinct()
    val checkedSeeds = seedSet
      .join(universe.select(col("v"), lit(1L).as("__in")), Seq("v"), "left")
      .select(when(col("__in").isNull,
          raise_error(concat(lit("personalizedPageRank: seed outside " +
            "node universe: "), col("v").cast("string"))).cast("string"))
        .otherwise(col("v")).as("v"))
    val checked = checkedEdges("personalizedPageRank", edges, universe)
    val ns = checkedSeeds.agg(count(lit(1)).as("__ns"))
    // Seed membership rides the rank frame as a 0/1 column; the
    // teleport expression gates on it, so the recurrence stays one
    // lazy plan with the seed set joined once per iteration (its
    // exchange canonicalizes and reuses).
    val base = universe
      .join(checkedSeeds.select(col("v"), lit(1L).as("__seed")), Seq("v"), "left")
      .withColumn("__seed", coalesce(col("__seed"), lit(0L)))
      .crossJoin(broadcast(ns))
    val seedMass = expr(s"__seed * ($Scale div __ns)")
    val teleport =
      expr(s"__seed * (((100 - $DampingPct) * ($Scale div __ns)) div 100)")
    val outW = checked.groupBy(col("u")).agg(sum(col("w")).as("__tw"))
    val e2 = checked.join(outW, "u")
      .select(col("u"), col("v"), expr(s"(w * $PpmScale) div __tw").as("p"))
    val contribExpr = expr(s"($DampingPct * r * p) div ${100L * PpmScale}")
    var rank = base.select(col("v"), col("__seed"), col("__ns"), seedMass.as("r"))
    for (_ <- 1 to iters) {
      val contrib = e2.join(rank.select(col("v").as("u"), col("r")), "u")
        .select(col("v"), contribExpr.as("__c"))
        .groupBy("v").agg(sum(col("__c")).as("__m"))
      rank = base.join(contrib, Seq("v"), "left")
        .select(col("v"), col("__seed"), col("__ns"),
          (teleport + coalesce(col("__m"), lit(0L))).as("r"))
    }
    rank.select(col("v"), col("r"))
  }
}
