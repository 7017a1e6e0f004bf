package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins [[Graph.pageRank]] against a naive driver-side reference that
  * replays the identical integer arithmetic — the distributed
  * join+agg decomposition must equal the sequential fold rank-for-rank
  * on every node, including dangling nodes, isolated nodes, and
  * weighted multi-in-edges. */
class GraphSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** (u, v, w): a small graph with a cycle, a dangling sink (40), an
    * isolated node (99), a weighted fan-in (2), and skewed weights. */
  private val edges = Seq(
    (10L, 20L, 3L), (10L, 30L, 1L), (20L, 30L, 2L), (30L, 10L, 5L),
    (30L, 40L, 5L), (20L, 2L, 7L), (10L, 2L, 1L))
  private val nodeIds = Seq(10L, 20L, 30L, 40L, 2L, 99L)

  private def reference(iters: Int): Map[Long, Long] = {
    val dampingPct = Graph.DampingPct
    val n = nodeIds.size
    val r0 = Graph.Scale / n
    val teleport = ((100L - dampingPct) * r0) / 100L
    val outW = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).sum }
    val p = edges.map { case (u, v, w) => (u, v, w * Graph.PpmScale / outW(u)) }
    var rank = nodeIds.map(_ -> r0).toMap
    for (_ <- 1 to iters) {
      val in = p.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, pp) => dampingPct * rank(u) * pp / (100L * Graph.PpmScale) }.sum
      }
      rank = nodeIds.map(v => v -> (teleport + in.getOrElse(v, 0L))).toMap
    }
    rank
  }

  private def run(iters: Int): Map[Long, Long] =
    Graph.pageRank(edges.toDF("u", "v", "w"), nodeIds.toDF("id"), "id", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("distributed iterations equal the sequential integer fold exactly") {
    for (iters <- Seq(1, 3, 6)) {
      assert(run(iters) === reference(iters), s"iters=$iters")
    }
  }

  test("an edge endpoint outside the node universe fails loudly, not silently") {
    // Source outside (7 -> 10) and destination outside (10 -> 8): both
    // violate the nodes-superset contract; unvalidated they would bias
    // ranks (filtered contribution / lost mass + inflated out-weight).
    for (bad <- Seq((7L, 10L, 1L), (10L, 8L, 1L))) {
      val ex = intercept[Exception] {
        Graph.pageRank((edges :+ bad).toDF("u", "v", "w"),
          nodeIds.toDF("id"), "id", 2).collect()
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e =>
          Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("outside node universe")),
        s"unexpected failure for $bad: $ex")
    }
    // validateEdges=false restores the documented caller-beware path.
    Graph.pageRank((edges :+ ((10L, 8L, 1L))).toDF("u", "v", "w"),
      nodeIds.toDF("id"), "id", 2, validateEdges = false).collect(): Unit
  }

  private def referenceSeeded(seeds: Set[Long], iters: Int): Map[Long, Long] = {
    val dampingPct = Graph.DampingPct
    val ns = seeds.size
    val s0 = Graph.Scale / ns
    val tp = ((100L - dampingPct) * s0) / 100L
    val outW = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._3).sum }
    val p = edges.map { case (u, v, w) => (u, v, w * Graph.PpmScale / outW(u)) }
    var rank = nodeIds.map(v => v -> (if (seeds(v)) s0 else 0L)).toMap
    for (_ <- 1 to iters) {
      val in = p.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _, pp) =>
          dampingPct * rank(u) * pp / (100L * Graph.PpmScale) }.sum
      }
      rank = nodeIds.map(v =>
        v -> ((if (seeds(v)) tp else 0L) + in.getOrElse(v, 0L))).toMap
    }
    rank
  }

  test("personalizedPageRank equals the seeded sequential fold; unreachable nodes rank 0") {
    val seeds = Set(10L, 20L)
    val got = Graph.personalizedPageRank(edges.toDF("u", "v", "w"),
        nodeIds.toDF("id"), "id", Seq(10L, 20L).toDF("id"), iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === referenceSeeded(seeds, 4))
    assert(got(99L) === 0L, "isolated node must be unreachable from seeds")
  }

  test("personalizedPageRank rejects a seed outside the node universe") {
    val ex = intercept[Exception] {
      Graph.personalizedPageRank(edges.toDF("u", "v", "w"),
        nodeIds.toDF("id"), "id", Seq(10L, 777L).toDF("id"), iters = 2)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("seed outside")), ex.toString)
  }

  test("isolated and dangling nodes keep the teleport floor; mass is conserved within floor loss") {
    val r = run(6)
    val teleport = (15L * (Graph.Scale / 6)) / 100L
    assert(r(99L) === teleport) // isolated: no in-edges, teleport only
    assert(r.values.forall(_ >= teleport))
    // total mass ≤ Scale (integer floors only ever lose mass), and the
    // loss is bounded: dangling 2/40 absorb, floors drop < 1 unit/edge
    assert(r.values.sum <= Graph.Scale)
  }
}
