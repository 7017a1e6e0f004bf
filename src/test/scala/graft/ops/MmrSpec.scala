package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins [[Similarity.mmrSelect]] against a naive driver-side greedy
  * MMR replaying the identical rounded-double arithmetic, and the
  * diversity property itself (a near-copy of the best hit is deferred
  * behind a less-relevant but diverse vector). */
class MmrSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Query 0 = e1. 1 and 2 are near-copies along e1 (2 a hair closer),
    * 3 is diverse (e2-heavy, still relevant), 4 orthogonal, 5 anti. */
  private val vecs: Seq[(Long, Seq[Float])] = Seq(
    0L -> Seq(1f, 0f, 0f, 0f),
    1L -> Seq(0.99f, 0.1f, 0f, 0f),
    2L -> Seq(0.995f, 0.05f, 0f, 0f),
    3L -> Seq(0.6f, 0.8f, 0f, 0f),
    4L -> Seq(0f, 0f, 1f, 0f),
    5L -> Seq(-1f, 0f, 0f, 0f))

  private def round6(x: Double): Double =
    math.round(x * 1e6) / 1e6 // roundFrac's half-away-from-zero on positives

  private def cos(a: Seq[Float], b: Seq[Float]): Double = {
    def dot(x: Seq[Float], y: Seq[Float]) =
      x.zip(y).foldLeft(0.0)((acc, p) => acc + p._1.toDouble * p._2.toDouble)
    round6(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
  }

  private val lam = Similarity.MmrLambdaPct / 100.0
  private val pen = (100 - Similarity.MmrLambdaPct) / 100.0

  private def naive(k: Int, vecs: Seq[(Long, Seq[Float])] = vecs): Seq[(Long, Long)] = {
    val q = vecs.find(_._1 == 0L).get._2
    var rem = vecs.filter(_._1 != 0L).map { case (id, v) => (id, v, cos(q, v)) }
    var ms = Map.empty[Long, Double]
    (1 to k).map { i =>
      val pick =
        if (i == 1) rem.minBy { case (id, _, rel) => (-rel, id) }
        else rem.minBy { case (id, _, rel) => (-(lam * rel - pen * ms(id)), id) }
      rem = rem.filterNot(_._1 == pick._1)
      ms = rem.map { case (id, v, _) =>
        val s = cos(v, pick._2)
        id -> (if (i == 1) s else math.max(ms(id), s))
      }.toMap
      (i.toLong, pick._1)
    }
  }

  private def run(k: Int, vecs: Seq[(Long, Seq[Float])] = vecs): Seq[(Long, Long)] =
    Similarity.mmrSelect(vecs.toDF("vec_id", "embedding"), 0L, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  test("distributed greedy equals the sequential reference pick-for-pick") {
    assert(run(5) === naive(5))
  }

  test("relevance prune + checkpointed rounds preserve picks on a random corpus") {
    // 120 seeded vectors with a wide rel spread (so the exact
    // λ·rel + (1−λ) prune actually removes candidates) and k past the
    // 8-round re-checkpoint boundary; the distributed greedy must
    // still equal the sequential reference pick-for-pick.
    val rnd = new scala.util.Random(421L)
    val many: Seq[(Long, Seq[Float])] = (0L until 120L).map { i =>
      i -> Seq.fill(8)(rnd.nextFloat() * 2f - 1f)
    }
    assert(run(12, many) === naive(12, many))
  }

  test("diversity: the near-copy of the top hit is deferred") {
    // Query e1. 1 is the top hit, 2 its near-copy (second by
    // relevance), 3 a mirror of 1 across e1 (third by relevance). At
    // λ = 0.7 the near-copy's ~0.9997 similarity to the first pick
    // must put it BEHIND the mirror — under pure top-k it would be
    // second (rel ordering 1, 2, 3).
    val mirrored: Seq[(Long, Seq[Float])] = Seq(
      0L -> Seq(1f, 0f, 0f, 0f),
      1L -> Seq(0.9f, 0.43f, 0f, 0f),
      2L -> Seq(0.89f, 0.45f, 0f, 0f),
      3L -> Seq(0.88f, -0.47f, 0f, 0f),
      4L -> Seq(0f, 0f, 1f, 0f))
    val order = run(4, mirrored).map(_._2)
    assert(order === naive(4, mirrored).map(_._2))
    assert(order.head === 1L)
    assert(order.indexOf(2L) > order.indexOf(3L),
      s"expected the near-copy deferred behind the mirror, got $order")
  }
}
