package graft.ops

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** ScalaCheck invariant for [[Temporal.rangeJoin]]: under random
  * points, random (possibly empty/inverted/negative) intervals, and
  * random bucket widths, the bucketed rewrite's pair set is EXACTLY
  * the naive cross-filter's — each (point, interval) match once,
  * no misses at bucket boundaries, no duplicates from multi-bucket
  * spans. The rewrite's whole contract is plan shape, never results. */
class RangeJoinPropertySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val genPoints: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 25)
    ps <- Gen.listOfN(n, Gen.choose(-50L, 50L))
  } yield ps.zipWithIndex.map { case (p, i) => (i.toLong, p) }

  private val genIntervals: Gen[List[(Long, Long, Long)]] = for {
    n <- Gen.choose(1, 12)
    ivs <- Gen.listOfN(n, for {
      s <- Gen.choose(-50L, 50L)
      len <- Gen.choose(-5L, 30L) // negative → inverted interval
    } yield (s, s + len))
  } yield ivs.zipWithIndex.map { case ((s, e), i) => (100L + i, s, e) }

  private val genWidth: Gen[Long] = Gen.oneOf(1L, 2L, 3L, 7L, 13L, 64L)

  test("bucketed range join equals the naive cross-filter for random inputs") {
    val prop = Prop.forAll(genPoints, genIntervals, genWidth) { (ps, ivs, w) =>
      val points = ps.toDF("pid", "p")
      val intervals = ivs.toDF("iid", "s", "e")
      val got = Temporal.rangeJoin(points, intervals,
          point = col("p"), start = col("s"), end = col("e"), bucketWidth = w)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = for {
        (pid, p) <- ps
        (iid, s, e) <- ivs
        if p >= s && p < e
      } yield (pid, iid)
      (Prop(got.sorted == want.sorted) :|
        s"width=$w got=${got.sorted} want=${want.sorted}") &&
        (Prop(got.size == got.toSet.size) :| "duplicate pairs")
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("bucket-ownership interval overlap equals the naive cross-filter for random inputs") {
    val prop = Prop.forAll(genIntervals, genIntervals, genWidth) { (as, bs, w) =>
      val a = as.toDF("aid", "as", "ae")
      val b = bs.map { case (i, s, e) => (i + 1000, s, e) }.toDF("bid", "bs", "be")
      val got = Temporal.intervalOverlapJoin(a, b,
          col("as"), col("ae"), col("bs"), col("be"), bucketWidth = w)
        .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = for {
        (aid, s1, e1) <- as
        (bid, s2, e2) <- bs.map { case (i, s, e) => (i + 1000, s, e) }
        if s1 < e2 && s2 < e1 && e1 > s1 && e2 > s2
      } yield (aid, bid)
      (Prop(got.sorted == want.sorted) :|
        s"width=$w got=${got.sorted} want=${want.sorted}") &&
        (Prop(got.size == got.toSet.size) :| "duplicate pairs")
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }
}
