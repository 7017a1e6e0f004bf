package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Pins [[Dedup.containmentPairsFromHashes]] against a naive
  * driver-side all-pairs containment over the same shingle sets —
  * including the fragment-replicate cap's pair-set invariance and the
  * asymmetry Jaccard misses (a short quote inside a long doc). */
class ContainmentSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** [[Dedup.containmentPairsCollapsed]] with its membership and
    * representative tables built inline — the stateless spelling of
    * what the registry persists and hands to the two-frame form. */
  private def containmentPairsCollapsedFromHashes(hs: DataFrame, idCol: String,
      thresholdPct: Int, hotShingleCap: Int = Dedup.DefaultHotShingleCap): DataFrame = {
    val members = Dedup.shingleSetMembers(hs, idCol)
    val reps = hs.join(
      members.filter(col("__gid") === col(idCol)).select(idCol),
      Seq(idCol), "left_semi")
    Dedup.containmentPairsCollapsed(members, reps, idCol, thresholdPct, hotShingleCap)
  }

  /** Docs engineered for asymmetry: 2 is a strict sub-document of 1
    * (full containment, low Jaccard), 3 shares half of 2, 4 is
    * disjoint, 5 duplicates 1. */
  private val texts = Seq(
    (1L, "a b c d e f g h i j k l m n o p"),
    (2L, "a b c d e f"),
    (3L, "d e f x y z"),
    (4L, "q r s t u v w"),
    (5L, "a b c d e f g h i j k l m n o p"))

  private def hashFrame = Dedup.shingleFrame(
    texts.toDF("doc_id", "text"), "doc_id", "text")

  private def naive(thresholdPct: Int): Set[(Long, Long, Long, Long, Long)] = {
    def shingleSet(t: String): Set[Seq[String]] =
      t.split(" ").toSeq.sliding(3).map(_.toSeq).toSet
    (for {
      (i1, t1) <- texts; (i2, t2) <- texts if i1 < i2
      s1 = shingleSet(t1); s2 = shingleSet(t2)
      inter = (s1 & s2).size.toLong
      if inter * 100 >= thresholdPct * s1.size || inter * 100 >= thresholdPct * s2.size
    } yield (i1, i2, inter, s1.size.toLong, s2.size.toLong)).toSet
  }

  private def run(thresholdPct: Int, cap: Int): Set[(Long, Long, Long, Long, Long)] =
    Dedup.containmentPairsFromHashes(hashFrame, "doc_id", thresholdPct, cap)
      .select("d1", "d2", "inter_cnt", "n1", "n2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  test("pair set equals naive all-pairs containment") {
    assert(run(80, 1000) === naive(80))
    assert(run(50, 1000) === naive(50))
  }

  test("the hot-shingle cap never changes the pair set") {
    assert(run(80, 1) === naive(80)) // every shared shingle bucket splits
  }

  private def runCollapsed(thresholdPct: Int, cap: Int): Set[(Long, Long, Long, Long, Long)] =
    containmentPairsCollapsedFromHashes(hashFrame, "doc_id", thresholdPct, cap)
      .select("d1", "d2", "inter_cnt", "n1", "n2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  test("set-collapsed pair set equals naive all-pairs containment") {
    // The fixture carries an exact duplicate pair (1,5): the collapse
    // must emit it as a within-group mutual pair AND route every
    // cross pair touching 1 or 5 through the group expansion.
    assert(runCollapsed(80, 1000) === naive(80))
    assert(runCollapsed(50, 1000) === naive(50))
    assert(runCollapsed(100, 1000) === naive(100))
    assert(runCollapsed(80, 1) === naive(80)) // caps are routing only
    // Full flag/ppm row equality (not just the size tuple) against
    // the uncollapsed path — the expansion's orientation swap is
    // where a subtle bug would hide.
    val full = Dedup.containmentPairsFromHashes(hashFrame, "doc_id", 80)
      .collect().map(_.toSeq).toSet
    val coll = containmentPairsCollapsedFromHashes(hashFrame, "doc_id", 80)
      .collect().map(_.toSeq).toSet
    assert(coll === full)
  }

  test("collapsed path equals the self-join path on a seeded random corpus") {
    // Adversarial shapes in one corpus: boilerplate prefix shared by
    // EVERY doc (a hot shingle every candidate join must survive),
    // exact duplicates, strict sub-documents, disjoint docs, and
    // length spread — under the harness vocabulary so shingle df
    // varies.
    val rnd = new scala.util.Random(42)
    val vocab = ('a' to 'z').map(_.toString)
    val texts = (1L to 60L).map { i =>
      val body = Seq.fill(3 + rnd.nextInt(28))(vocab(rnd.nextInt(vocab.size)))
      val withBoiler =
        if (i % 3 == 0) Seq("the", "end", "of") ++ body else body
      (i, withBoiler.mkString(" "))
    } ++ Seq(
      (61L, "x y z w v u t s r q p o n m l k"), // superset
      (62L, "x y z w v u"),                     // strict subset of 61
      (63L, "x y z w v u t s r q p o n m l k")) // duplicate of 61
    val hf = Dedup.shingleFrame(
      spark.createDataFrame(texts).toDF("doc_id", "text"), "doc_id", "text")
    for (t <- Seq(50, 80, 100)) {
      val self = Dedup.containmentPairsFromHashes(hf, "doc_id", t)
        .collect().map(_.toSeq).toSet
      val coll = containmentPairsCollapsedFromHashes(hf, "doc_id", t)
        .collect().map(_.toSeq).toSet
      assert(coll === self, s"collapsed/self divergence at t=$t")
      assert(self.nonEmpty, s"degenerate fixture at t=$t — nothing gated")
    }
  }

  test("asymmetry: the quote is contained, Jaccard would miss it") {
    val pairs = Dedup.containmentPairsFromHashes(hashFrame, "doc_id", 80)
      .filter(col("d1") === 1L && col("d2") === 2L).collect()
    assert(pairs.length === 1)
    val r = pairs(0)
    assert(r.getAs[Int]("d2_in_d1") === 1) // 2 fully inside 1
    assert(r.getAs[Int]("d1_in_d2") === 0)
    // Jaccard inter/union = 4/14 — far below any dedup threshold.
    assert(r.getAs[Long]("inter_cnt") * 100 <
      40 * (r.getAs[Long]("n1") + r.getAs[Long]("n2") - r.getAs[Long]("inter_cnt")))
  }
}
