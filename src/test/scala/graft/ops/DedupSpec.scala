package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("shingles: distinct 3-gram word shingles, empty below 3 tokens") {
    val df = Seq("a b c d", "a b", "x x x x x").toDF("t")
      .select(Dedup.shingles(Dedup.tokens(col("t"))).as("s"))
    val got = df.collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq.empty)
    assert(got(2) === Seq("x x x")) // distinct collapses repeats
  }

  test("jaccardParts computes |intersection| and |union| of hash sets") {
    val df = Seq((Array(1L, 2L, 3L), Array(2L, 3L, 4L))).toDF("a", "b")
    val (i, u) = Dedup.jaccardParts(col("a"), col("b"))
    val row = df.select(i, u).collect().head
    assert((row.getInt(0), row.getInt(1)) === ((2, 4)))
  }

  test("lshCandidates finds near-identical docs, never self-pairs, d1 < d2") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "the quick brown fox jumps over the lazy dog and runs away quickly"),
      (3L, "completely different text about spark query engines and nothing else here"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    val pairs = Dedup.lshCandidates(sigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"expected near-dup pair, got $pairs")
    assert(pairs.forall { case (a, b) => a < b })
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("simhash32: deterministic, bounded to 32 bits, near-dups close in Hamming space") {
    def fp(texts: (Long, String)*): Map[Long, Long] = {
      val sh = texts.toSeq.toDF("doc_id", "text")
        .select(col("doc_id"), Dedup.tokens(col("text")).as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"),
          explode(Dedup.shingleHashes(Dedup.shingles(col("ws")))).as("h"))
      Dedup.simhash32(sh, "doc_id", "h")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val a = "the quick brown fox jumps over the lazy dog and runs away fast"
    val b = "the quick brown fox jumps over the lazy dog and walks away fast"
    val c = "completely different text about spark query engines and nothing else"
    val m = fp(1L -> a, 2L -> b, 3L -> c)
    assert(m === fp(1L -> a, 2L -> b, 3L -> c)) // deterministic
    assert(m.values.forall(v => v >= 0 && v <= 0xFFFFFFFFL))
    def ham(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
  }

  test("minhash property: identical docs always collide, signature is content-determined") {
    val dup = "exact duplicate content that appears twice in the corpus today"
    val docs = Seq((10L, dup), (20L, dup),
      (30L, "entirely unrelated words about something else altogether now"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    val rows = sigs.collect().map(r =>
      r.getLong(0) -> (0 until Dedup.NumHashes).map(i => r.getAs[Long](s"mh$i")))
      .toMap
    assert(rows(10L) === rows(20L)) // identical text ⇒ identical signature
    val pairs = Dedup.lshCandidates(sigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((10L, 20L))) // ⇒ guaranteed candidate pair
  }

  test("lshCandidates band-frequency cap bounds a pathological hot bucket") {
    // 40 identical near-empty docs (one degenerate signature shared by
    // all) plus one genuine near-dup pair. Uncapped, the degenerate
    // bucket alone yields 40*39/2 = 780 pairs; with the cap the whole
    // bucket drops and only the genuine pair survives.
    val junk = (1L to 40L).map(i => (i, "na na na junk junk junk filler filler"))
    val real = Seq(
      (101L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (102L, "the quick brown fox jumps over the lazy dog and runs away quickly"))
    val sigs = Dedup.minhashSignatures((junk ++ real).toDF("doc_id", "text"),
      "doc_id", "text")

    val uncapped = Dedup.lshCandidates(sigs, "doc_id").count()
    assert(uncapped >= 780L, s"expected quadratic blowup uncapped, got $uncapped")

    val capped = Dedup.lshCandidates(sigs, "doc_id", maxBandFreq = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((101L, 102L)), s"cap failed: $capped")

    // The dropped buckets are enumerable (the log-able count): every
    // band of the junk signature is hot, nothing else is.
    val hot = Dedup.hotBands(sigs, "doc_id", 10)
      .collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(hot.length === Dedup.NumBands && hot.forall(_._2 === 40L), hot.toSeq)
  }

  test("DefaultMaxBandFreq prunes nothing on the sf0.01 corpus (oracle equivalence)") {
    // The pair family (q31/q57/q65/q66/q67, q43's probe) runs with the
    // default cap engaged while its DuckDB oracles are uncapped SQL —
    // exactness therefore REQUIRES that no harness band bucket reaches
    // the cap. This pins it: if a future corpus regeneration or cap
    // change makes the default prune at oracle scale, this fails before
    // the correctness gate silently diverges.
    val sfDocs = new java.io.File("/root/testdata/sf0.01/documents.parquet")
    assume(sfDocs.exists, s"harness test data missing: $sfDocs")
    val docs = spark.read.parquet(sfDocs.toString).select("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text")
    val hot = Dedup.hotBands(sigs, "doc_id", Dedup.DefaultMaxBandFreq.get).count()
    assert(hot === 0L,
      s"$hot band buckets exceed DefaultMaxBandFreq — capped queries diverge from uncapped oracles")
  }

  test("DefaultMaxBandFreq (engaged by default) bounds a degenerate bucket, keeps real pairs") {
    // Adversarial corpus: more identical near-empty docs than the
    // DEFAULT cap allows in one bucket, plus one genuine near-dup
    // pair. The default-argument path (no explicit maxBandFreq) must
    // drop the degenerate bucket's ~cap²/2 pairs and keep the genuine
    // pair — proving the cap is ON by default, not opt-in.
    val n = Dedup.DefaultMaxBandFreq.get + 50
    val junk = (1L to n.toLong).map(i => (i, "na na na junk junk junk filler filler"))
    val real = Seq(
      (2000001L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2000002L, "the quick brown fox jumps over the lazy dog and runs away quickly"))
    val sigs = Dedup.minhashSignatures((junk ++ real).toDF("doc_id", "text"),
      "doc_id", "text")
    val defaultCapped = Dedup.lshCandidates(sigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(defaultCapped === Set((2000001L, 2000002L)), s"got ${defaultCapped.size} pairs")
    // The opt-out still exists for exhaustive offline audits.
    val uncapped = Dedup.lshCandidates(sigs, "doc_id", maxBandFreq = None).count()
    assert(uncapped >= n.toLong * (n - 1) / 2, s"uncapped lost pairs: $uncapped")
  }

  test("lshCandidatesAgainst corpus-side cap prunes degenerate index buckets") {
    val junkCorpus = (1L to 30L).map(i => (i, "na na na junk junk junk filler filler"))
    val realCorpus = Seq((50L, "the quick brown fox jumps over the lazy dog and runs away fast"))
    val corpus = Dedup.minhashSignatures((junkCorpus ++ realCorpus).toDF("doc_id", "text"),
      "doc_id", "text")
    val batch = Dedup.minhashSignatures(Seq(
      (900L, "na na na junk junk junk filler filler"),
      (901L, "the quick brown fox jumps over the lazy dog and runs away quickly"))
      .toDF("doc_id", "text"), "doc_id", "text")

    val capped = Dedup.lshCandidatesAgainst(batch, corpus, "doc_id",
      maxBandFreq = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // The junk probe finds nothing (its corpus bucket is dropped); the
    // genuine near-dup still matches its single-member bucket.
    assert(capped === Set((901L, 50L)), s"got $capped")
  }

  test("ngramJaccardPairs: exact pair set survives the hot-shingle split on boilerplate") {
    // Stop-shingle-heavy corpus: every doc in the bucket opens with
    // the same boilerplate 3-gram, so the (bucket, shingle) inverted-
    // index key holding it is hot by construction — 40 rows at cap 6
    // splits the bucket 7 ways. Pair rows, counts, AND the surviving
    // scored pairs must be bit-identical to an effectively-uncapped
    // run (the fragment-replicate split never changes the pair set);
    // a genuine near-dup pair must also survive the threshold.
    val boiler = (1L to 40L).map(i =>
      (i, "web", s"terms of service apply here item$i detail$i extra$i"))
    val nearDup = Seq(
      (101L, "web", "the quick brown fox jumps over the lazy dog and runs away fast"),
      (102L, "web", "the quick brown fox jumps over the lazy dog and runs away quickly"),
      (103L, "books", "the quick brown fox jumps over the lazy dog and runs away fast"))
    val docs = (boiler ++ nearDup).toDF("doc_id", "source", "text")
    val hs = Dedup.shingleFrame(docs, "doc_id", "text", Seq("source"))
    def run(cap: Int) = Dedup.ngramJaccardPairsFromHashes(
        hs, "doc_id", "source", threshold = 0.4, hotShingleCap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val capped = run(6)
    assert(capped === run(Int.MaxValue))
    // The cross-source twin (101, 103) must NOT pair — bucket pruning —
    // while the within-source near-dups do.
    assert(capped.exists(p => p._1 === 101L && p._2 === 102L))
    assert(!capped.exists(p => p._1 === 101L && p._2 === 103L))
    // Boilerplate-only overlap (3 shared shingles of 9 distinct,
    // jaccard 1/3) sits under the 0.4 threshold, so no boiler pair
    // leaks through.
    assert(capped.size === 1, s"${capped.size} pairs survived")
  }

  test("connectedComponents: chains, cycles, and disjoint clusters resolve to min labels") {
    // Component A: a 4-node chain 1-2-3-4 (propagation needs multiple
    // iterations); component B: a triangle 10-11-12 with an extra
    // chord; component C: the lone edge 20-21.
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L))
      .toDF("d1", "d2")
    val got = Dedup.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents: adaptive star phase beats the chain diameter") {
    // 16-node chain, diameter 15: propagation alone needs 15 passes.
    // The adaptive algorithm runs 4 propagation passes, contracts to
    // a ~12-supernode chain, and finishes with O(log d) alternating
    // star rounds — the total must land well under the diameter.
    val chain = (1L until 16L).map(i => (i, i + 1)).toDF("d1", "d2")
    val (labels, passes) = Dedup.connectedComponentsWithPasses(chain)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1L to 16L).map(_ -> 1L).toMap)
    assert(passes <= 10, s"took $passes passes on a 16-chain (diameter 15)")

    // Star (diameter 2): propagation converges before the switch ever
    // fires — the common near-dup shape stays on the 2-jobs-per-pass
    // path.
    val star = (2L to 9L).map(i => (1L, i)).toDF("d1", "d2")
    val (sLabels, sPasses) = Dedup.connectedComponentsWithPasses(star)
    assert(sLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === (1L to 9L).map(_ -> 1L).toMap)
    assert(sPasses <= 2, s"took $sPasses passes on a star")

    // Clique: dense neighborhoods, same answer, still pre-switch.
    val clique = (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b))
      .toDF("d1", "d2")
    val (cLabels, cPasses) = Dedup.connectedComponentsWithPasses(clique)
    assert(cLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      === (1L to 5L).map(_ -> 1L).toMap)
    assert(cPasses <= 3, s"took $cPasses passes on a clique")
  }

  test("connectedComponents: empty edge set yields an empty labeling") {
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(Dedup.connectedComponents(empty).count() === 0L)
  }

  test("connectedComponents: maxIter too small for the diameter fails loudly") {
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("d1", "d2")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    }
    // ...and a sufficient budget resolves the same chain fully.
    val ok = Dedup.connectedComponents(chain)
      .collect().map(r => r.getLong(1)).distinct.toSeq
    assert(ok === Seq(1L))
  }

  test("contaminationStats counts eval-shingle overlap and flags at the threshold") {
    // Doc 1 fully contains the eval text; doc 2 shares nothing; doc 3
    // shares exactly one 3-gram ("x y z") of its four shingles (25% —
    // over the 10% threshold).
    val corpus = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "completely unrelated words about engines"),
      (3L, "a b x y z c")).toDF("doc_id", "text")
    val evalDocs = Seq((100L, "the quick brown fox jumps high x y z")).toDF("doc_id", "text")
    val corpusRows = corpus.select(col("doc_id"),
      explode(Dedup.shingleHashes(Dedup.shingles(Dedup.tokens(col("text"))))).as("__h"))
    val got = Dedup.contaminationStatsFromHashes(corpusRows, evalDocs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3)))).toMap
    assert(got(1L) === ((3L, 3L, 1)))  // all shingles shared → contaminated
    assert(got(2L)._2 === 0L)
    assert(got(2L)._3 === 0)
    assert(got(3L) === ((4L, 1L, 1)))  // 25% ≥ 10% threshold
  }

  test("connectedComponents: reliable checkpoint mode resolves identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val edges = Seq((2L, 1L), (2L, 3L), (4L, 3L), (20L, 21L)).toDF("d1", "d2")
    val got = Dedup.connectedComponents(edges, reliable = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      20L -> 20L, 21L -> 20L))
  }

  test("persisted signature index round-trips: stored corpus sigs probe like fresh ones") {
    // The production incremental flow: materialize the corpus MinHash
    // signatures ONCE, probe every later batch against the stored
    // table. The stored index must produce the identical candidate set
    // the in-memory signatures produce.
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (2L, "completely different text about spark engines and distributed query planning"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (102L, "numbers one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text").drop("text", "__hs")
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString)
    store.overwrite("lsh_index", sigs)
    val batchSigs = Dedup.minhashSignatures(batch, "doc_id", "text")
    def cands(corpusSigs: org.apache.spark.sql.DataFrame) =
      Dedup.lshCandidatesAgainst(batchSigs, corpusSigs, "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromStore = cands(store.read("lsh_index"))
    assert(fromStore === cands(sigs))
    assert(fromStore === Set((101L, 1L)))
  }

  test("persisted signature frame round-trip is value-identical to the inline pipeline") {
    // The query family reads the PERSISTED index instead of executor
    // cache() — valid only if parquet round-trips every signature and
    // shingle-hash value exactly. Compare full rows (id, __hs,
    // mh0..mh11) and the scored candidate pairs computed through each.
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "the quick brown fox jumps over the lazy dog and runs away quickly"),
      (3L, "completely different text about spark query engines and nothing else here"))
      .toDF("doc_id", "text")
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_sig_idx").toString)
    val inline = Dedup.signaturesFromHashes(
      Dedup.shingleFrame(docs, "doc_id", "text"))
    store.overwrite("minhash_sigs", inline)
    val persisted = store.read("minhash_sigs")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (r.getLong(0), r.getSeq[Long](r.fieldIndex("__hs")).toSeq,
        (0 until Dedup.NumHashes).map(i => r.getAs[Long](s"mh$i")))
    }.toSet
    assert(key(persisted) === key(inline))
    def pairs(sigs: org.apache.spark.sql.DataFrame) =
      Dedup.scoredCandidatePairs(sigs, "doc_id")
        .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"),
          r.getAs[Long]("__inter"), r.getAs[Long]("__union"))).toSet
    val viaIndex = pairs(store.read("minhash_sigs"))
    assert(viaIndex === pairs(inline))
    assert(viaIndex.exists(p => p._1 === 1L && p._2 === 2L))
  }

  test("persisted shingle frame round-trip feeds ngramJaccardPairsFromHashes alike") {
    val docs = Seq(
      (1L, "web", "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "web", "the quick brown fox jumps over the lazy dog and runs away quickly"),
      (3L, "books", "the quick brown fox jumps over the lazy dog and runs away fast"))
      .toDF("doc_id", "source", "text")
    val store = new graft.io.TableStore(spark,
      java.nio.file.Files.createTempDirectory("graft_shingle_idx").toString)
    store.overwrite("doc_shingles", Dedup.shingleFrame(docs, "doc_id", "text", Seq("source")))
    val persisted = store.read("doc_shingles")
    def pairs(hs: org.apache.spark.sql.DataFrame) =
      Dedup.ngramJaccardPairsFromHashes(hs, "doc_id", "source", threshold = 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val viaIndex = pairs(persisted)
    assert(viaIndex === pairs(Dedup.shingleFrame(docs, "doc_id", "text", Seq("source"))))
    assert(viaIndex.exists(p => p._1 === 1L && p._2 === 2L)) // within-source pair
    assert(!viaIndex.exists(p => p._1 === 1L && p._2 === 3L)) // cross-source pruned
  }

  test("mergeComponents: a batch edge merging two clusters matches from-scratch CC") {
    // Existing world: cluster {1,2,3} and cluster {10,11}, plus the
    // untouched cluster {20,21}. The batch bridges 3-10 (merging the
    // first two) and attaches a brand-new node 30 to 11.
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("d1", "d2")
    val labels = Dedup.connectedComponents(oldEdges)
      .select(col("id"), col("component"))
    val batch = Seq((3L, 10L), (11L, 30L)).toDF("d1", "d2")
    val incremental = Dedup.mergeComponents(labels, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromScratch = Dedup.connectedComponents(oldEdges.unionByName(batch))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(incremental === fromScratch)
    // The merged cluster takes the global min label; the untouched
    // cluster is passed through by reference with its old label.
    assert(incremental(30L) === 1L && incremental(10L) === 1L)
    assert(incremental(20L) === 20L && incremental(21L) === 20L)
  }

  test("mergeComponents: batch of only-new nodes adds clusters without touching old ones") {
    val labels = Dedup.connectedComponents(Seq((1L, 2L)).toDF("d1", "d2"))
      .select(col("id"), col("component"))
    val batch = Seq((100L, 101L), (101L, 102L)).toDF("d1", "d2")
    val got = Dedup.mergeComponents(labels, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 100L -> 100L, 101L -> 100L, 102L -> 100L))
  }

  test("simhashWide(32) reproduces simhash32 exactly; 60-bit adds upper bits") {
    val sh = Seq(1L -> "the quick brown fox jumps over the lazy dog runs far",
      2L -> "completely different text about spark engines and nothing else")
      .toDF("doc_id", "text")
      .select(col("doc_id"), Dedup.tokens(col("text")).as("ws"))
      .select(col("doc_id"),
        explode(Dedup.shingleHashes(Dedup.shingles(col("ws")))).as("h"))
    val m32 = Dedup.simhash32(sh, "doc_id", "h")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w32 = Dedup.simhashWide(sh, "doc_id", "h", 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m32 === w32)
    val w60 = Dedup.simhashWide(sh, "doc_id", "h", 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Low 32 bits agree with the 32-bit fingerprint; values stay in
    // [0, 2^60) so both engines hold them as positive BIGINTs.
    assert(w60.forall { case (k, v) => (v & 0xFFFFFFFFL) === m32(k) })
    assert(w60.values.forall(v => v >= 0L && v < (1L << 60)))
  }

  test("simhashPairs at 60 bits finds the crafted near pair") {
    // fp2 = fp1 with two bits flipped inside band 0; fp3 differs in
    // every band.
    val f1 = 0x0FEDCBA987654321L & ((1L << 60) - 1)
    val fps = Seq((1L, f1), (2L, f1 ^ 0x3L), (3L, ~f1 & ((1L << 60) - 1)))
      .toDF("doc_id", "simhash")
    val got = Dedup.simhashPairs(fps, "doc_id", "simhash", fpBits = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(got === Set((1L, 2L, 2)))
  }

  test("simhashPairs: banded candidates verify true Hamming radius") {
    // Fingerprints chosen so (1,2) differ in 2 bits (same low bytes),
    // (1,3) differ in many bits across all bytes.
    val fps = Seq(
      (1L, 0x000000FFL), (2L, 0x000300FFL), (3L, 0x5A5A5A00L))
      .toDF("doc_id", "simhash")
    val got = Dedup.simhashPairs(fps, "doc_id", "simhash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toSet
    assert(got === Set((1L, 2L, 2)))
  }

  test("simhashPairs combo banding is EXACT vs brute force, 64-bit, at MaxHamming") {
    // The combinatorial pigeonhole (r+3 bands, join on 3-band combos)
    // must have 100 % recall at radius r = MaxHamming for ANY
    // fingerprint set — the all-pairs oracles of the phash family
    // depend on it. Adversarial mix: random longs (full 64-bit range incl. negative), plus
    // planted near-pairs at every distance 0..6 off shared bases.
    val rnd = new scala.util.Random(42)
    val base = Seq.fill(40)(rnd.nextLong())
    val planted = base.take(7).zipWithIndex.map { case (b, d) =>
      (0 until d).foldLeft(b)((v, i) => v ^ (1L << ((i * 13 + d) % 64)))
    }
    val all = (base ++ planted).distinct.zipWithIndex.map { case (fp, i) => (i.toLong, fp) }
    val fps = all.toDF("doc_id", "fp")
    val r = Dedup.MaxHamming
    val brute = (for {
      (i1, f1) <- all; (i2, f2) <- all
      if i1 < i2 && java.lang.Long.bitCount(f1 ^ f2) <= r
    } yield (i1, i2)).toSet
    val got = Dedup.simhashPairs(fps, "doc_id", "fp", fpBits = 64, maxBandFreq = None)
      .collect().map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(got === brute, s"radius $r: banded join lost/invented pairs")
  }

  test("simhashPairs/simhashPairsAgainst: default band cap prunes nothing at harness scale") {
    // The default maxBandFreq must be invisible on organically-sized
    // corpora — the oracle gate depends on it. 200 random fingerprints
    // (worst case: bucket occupancy ~ uniform) must give identical
    // pair sets capped and uncapped, for both the self and the
    // batch×corpus flows.
    val rnd = new scala.util.Random(7)
    val all = Seq.tabulate(200)(i => (i.toLong, rnd.nextLong() >>> 4))
    val fps = all.toDF("doc_id", "fp")
    def pairsOf(cap: Option[Int]) =
      Dedup.simhashPairs(fps, "doc_id", "fp", fpBits = 60,
          maxBandFreq = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsOf(Dedup.DefaultMaxBandFreq) === pairsOf(None))
    val (batch, corpus) = all.partition(_._1 >= 150L)
    def againstOf(cap: Option[Int]) =
      Dedup.simhashPairsAgainst(batch.toDF("doc_id", "fp"), corpus.toDF("doc_id", "fp"),
          "doc_id", "fp", maxBandFreq = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(againstOf(Dedup.DefaultMaxBandFreq) === againstOf(None))
  }

  test("shingleNovelty: first occurrence wins, duplicates score zero, short docs are kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),        // 3 shingles, all first-seen here
      (2L, "a b c d e"),        // exact dup of 1 → novelty 0
      (3L, "a b c x y z"),      // shares "a b c" with doc 1; 3 of 4 novel
      (4L, "q r"),              // < 3 tokens → no shingles
      (5L, "")                  // empty
    ).toDF("doc_id", "text")
    val got = Dedup.shingleNoveltyFromHashes(docs.select(col("doc_id")),
        docs.select(col("doc_id"),
          Dedup.shingleHashes(Dedup.shingles(Dedup.tokens(col("text")))).as("__hs")),
        "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) === ((3L, 3L, 1000000L)))
    assert(got(2L) === ((3L, 0L, 0L)))
    assert(got(3L) === ((4L, 3L, 750000L)))
    assert(got(4L) === ((0L, 0L, 0L)))
    assert(got(5L) === ((0L, 0L, 0L)))
    // Every input doc appears exactly once.
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
  }
}
