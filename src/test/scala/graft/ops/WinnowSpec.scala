package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken):
  * brute-force equality against a naive per-doc fold, the w+n−1
  * shared-run detection guarantee on planted pairs, the persisted
  * index build's equivalence to the inline expression, and the
  * q146 document-frequency-cap pairing semantics end-to-end. */
class WinnowSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The inline oracle: [[Dedup.winnowSelect]] fused with the hash
    * pipeline. SMALL inputs only — the inlining hazard documented on
    * `winnowSelect` makes it O(L²) in md5 evaluations per document,
    * which is why the corpus flow is [[Dedup.buildWinnowIndex]]. */
  private def winnowedFingerprints(ws: Column, window: Int): Column =
    Dedup.winnowSelect(Dedup.positionalShingleHashes(ws), window)

  private val W = 8 // q146's window
  private val N = Dedup.ShingleN

  /** Positional shingle hashes of one doc, computed by the SAME
    * engine expression the operator uses (the hash function itself
    * is pinned against DuckDB by the oracle gate; this spec pins the
    * SELECTION logic on top of it). */
  private def posHashes(text: String): Seq[Long] =
    Seq(text).toDF("t")
      .select(Dedup.positionalShingleHashes(Dedup.tokens(col("t"))).as("hs"))
      .collect().head.getSeq[Long](0).toSeq

  /** Naive reference: slide the window with an explicit fold, keep
    * each window's minimum, distinct by value. */
  private def naiveWinnow(hs: Seq[Long], w: Int): Seq[Long] =
    if (hs.isEmpty) Seq.empty
    else if (hs.length < w) Seq(hs.min)
    else hs.sliding(w).map(_.min).toSeq.distinct

  private def winnowViaSpark(text: String, w: Int): Seq[Long] =
    Seq(text).toDF("t")
      .select(winnowedFingerprints(Dedup.tokens(col("t")), w).as("f"))
      .collect().head.getSeq[Long](0).toSeq

  test("winnowSelect equals a naive per-doc window-min fold") {
    val rnd = new scala.util.Random(46) // deterministic
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    for (len <- Seq(0, 1, 2, 3, 7, 9, 10, 25, 60)) {
      val text = Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val expected =
        if (len < N) Seq.empty else naiveWinnow(posHashes(text), W)
      assert(winnowViaSpark(text, W).sorted === expected.sorted,
        s"mismatch for len=$len text='$text'")
    }
  }

  test("guarantee: a shared run of ≥ w+n−1 tokens yields ≥ 1 shared print") {
    val rnd = new scala.util.Random(47)
    // Distinct vocabularies per side so ONLY the planted run is shared.
    def doc(prefix: String, planted: Seq[String]): String = {
      val own = Seq.fill(30)(s"$prefix${rnd.nextInt(500)}")
      (own.take(15) ++ planted ++ own.drop(15)).mkString(" ")
    }
    for (trial <- 1 to 20) {
      val run = Seq.fill(W + N - 1)(s"shared${trial}x${rnd.nextInt(1000)}")
      val (a, b) = (doc("left", run), doc("right", run))
      val shared = winnowViaSpark(a, W).toSet intersect winnowViaSpark(b, W).toSet
      assert(shared.nonEmpty,
        s"trial $trial: planted ${W + N - 1}-token run not detected")
    }
  }

  test("edge cases: below n tokens → no prints; n ≤ tokens < w+n−1 → global min") {
    assert(winnowViaSpark("a b", W) === Seq.empty)
    val short = "tok1 tok2 tok3 tok4" // 2 shingles < window
    assert(winnowViaSpark(short, W) === Seq(posHashes(short).min))
  }

  test("buildWinnowIndex equals the inline expression, exploded") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast today"),
      (2L, "a short one"),
      (3L, "xx"), // below n tokens: drops out of the index entirely
      (4L, ("w" +: (1 to 40).map(i => s"tok${i % 7}")).mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("winnow_idx").toString
    try {
      val st = new graft.io.TableStore(spark, dir)
      val got = Dedup.buildWinnowIndex(st, docs, "doc_id", "text", W)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = docs
        .select(col("doc_id"),
          explode(winnowedFingerprints(Dedup.tokens(col("text")), W)).as("fp"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === expected)
      assert(!got.exists(_._1 == 3L))
      // The positional-hash phase intermediate must not be left behind.
      assert(!st.exists("winnow_prints_phs"))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("q146 df-cap pairing semantics: boilerplate prints drop from both sides") {
    // 60 docs sharing one boilerplate run (df > 50 once selected —
    // engages the cap) plus two planted near-dup pairs and noise.
    val rnd = new scala.util.Random(48)
    val boiler = (1 to 12).map(i => s"boiler$i")
    def noise(tag: String) = Seq.fill(25)(s"$tag${rnd.nextInt(400)}")
    val pairRun = (1 to 15).map(i => s"pairrun$i")
    val pairRun2 = (1 to 15).map(i => s"other$i")
    val docs = ((1 to 60).map { i =>
      val planted =
        if (i == 7 || i == 13) pairRun
        else if (i == 21 || i == 22) pairRun2
        else Seq.empty
      (i.toLong, (noise(s"d${i}w") ++ boiler ++ planted).mkString(" "))
    }).toDF("doc_id", "text")

    val dir = java.nio.file.Files.createTempDirectory("winnow_q146").toString
    try {
      docs.write.parquet(s"$dir/documents.parquet")
      val got = graft.SparkEntry.queries("q146_winnowing_neardup")(spark, dir)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      // Brute-force reference of the full q146 semantics.
      val prints = docs.collect().map { r =>
        r.getLong(0) -> naiveWinnow(posHashes(r.getString(1)), W).toSet
      }.toMap
      val df = prints.values.flatten.groupBy(identity).map { case (h, v) => h -> v.size }
      val kept = prints.map { case (id, hs) => id -> hs.filter(df(_) <= 50) }
      val ids = kept.keys.toSeq.sorted
      val expected = (for {
        i <- ids; j <- ids if i < j
        if (kept(i) intersect kept(j)).size >= 2
      } yield (i, j)).toSet

      assert(got === expected)
      assert(expected.contains((7L, 13L)) && expected.contains((21L, 22L)),
        s"planted pairs missing from reference: $expected")
      // The boilerplate run alone must NOT pair unrelated docs: with
      // its prints df-capped away, only planted pairs survive.
      assert(expected === Set((7L, 13L), (21L, 22L)))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
