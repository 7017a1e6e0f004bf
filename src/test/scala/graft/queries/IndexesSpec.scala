package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ops.{Dedup, Similarity}

/** The per-process index registry must be a pure MATERIALIZATION: every
  * persisted artifact value-identical to the inline pipeline it
  * replaces (the declared-query oracles pin the same property at
  * sf0.01 — q57 for labels, q64 for tf, q68 for cells; this is the
  * unit-level pin at sf0.001, including artifacts a query reads only
  * partially). */
class IndexesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private val thr = 0.4

  private def docs = graft.io.Sources.table(spark, sf, "documents")

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Runs `body` with the raw-corpus registry root pointed at `root`. */
  private def withIndexRoot[T](root: String)(body: => T): T = {
    val prev = sys.props.get("graft.index.root")
    sys.props("graft.index.root") = root
    try body
    finally prev match {
      case Some(v) => sys.props("graft.index.root") = v
      case None => sys.props -= "graft.index.root": Unit
    }
  }

  test("neardup edges and labels match the inline signature pipeline") {
    val inlineEdges = Dedup.scoredCandidatePairs(
        Dedup.minhashSignatures(docs.select("doc_id", "text"), "doc_id", "text"),
        "doc_id", Dedup.DefaultMaxBandFreq)
      .filter(col("__inter").cast("double") / col("__union") >= thr)
      .select("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fromIndex = Indexes.neardupEdges(spark, sf, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromIndex === inlineEdges)
    assert(fromIndex.nonEmpty, "fixture corpus must contain near-dups")
    val inlineLabels = Dedup.connectedComponents(
        Indexes.neardupEdges(spark, sf, thr))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val labelIndex = Indexes.neardupLabels(spark, sf, thr)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(labelIndex === inlineLabels)
  }

  test("minhash pair scores match the inline scored candidate pairs") {
    val inline = Dedup.scoredCandidatePairs(
        Dedup.minhashSignatures(docs.select("doc_id", "text"), "doc_id", "text"),
        "doc_id", Dedup.DefaultMaxBandFreq)
      .select("d1", "d2", "__inter", "__union")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val fromIndex = Indexes.minhashPairScores(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(fromIndex === inline)
    assert(fromIndex.nonEmpty, "fixture corpus must surface candidates")
  }

  test("containment pairs match the inline collapsed pair join") {
    // r16: the moved subtree is exactly the two-frame
    // containmentPairsCollapsed call over the persisted group/rep
    // tables (q134's whole body and q145's drop leg before the
    // index); the landed rows must equal it column for column.
    val inline = Dedup.containmentPairsCollapsed(
        Indexes.containmentGroups(spark, sf),
        Indexes.containmentReps(spark, sf), "doc_id", thresholdPct = 80)
      .collect().map(_.toSeq).toSet
    val fromIndex = Indexes.containmentPairs(spark, sf, thresholdPct = 80)
      .collect().map(_.toSeq).toSet
    assert(fromIndex === inline)
    assert(fromIndex.nonEmpty, "fixture corpus must contain containment pairs")
  }

  test("doc LM scores match the inline bigram count+join+fold aggregate") {
    val ws = Dedup.tokens(col("text"))
    val pairs = zip_with(
      slice(ws, lit(1), size(ws) - 1),
      slice(ws, lit(2), size(ws) - 1),
      (a, b) => concat_ws(" ", a, b))
    val bf = docs.select(col("doc_id"), explode(pairs).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
    val cnt = bf.groupBy("bg").agg(sum(col("tf")).as("c"))
    val inline = bf.join(cnt, "bg")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(length(bin(col("c"))).cast("long") * col("tf")).as("lm_score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromIndex = Indexes.docLmScores(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIndex === inline)
    assert(fromIndex.nonEmpty)
  }

  test("term frequencies match the inline tokenize aggregate") {
    val inline = docs
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val fromIndex = Indexes.termFrequencies(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(fromIndex === inline)
  }

  test("k-means cells match an inline fit (deterministic integer training)") {
    val inline = Similarity.kmeansFit(
        graft.io.Sources.table(spark, sf, "embeddings"), k = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fromIndex = Indexes.kmeansCells(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fromIndex === inline)
  }

  test("span occurrences match the inline normalize+explode aggregate") {
    import spark.implicits._
    val toks = split(graft.ops.TextAnalysis.normalize(col("text")), " ")
    val inline = docs.select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(graft.ops.TextAnalysis.spanGrams(col("toks"), 8)).as("span"))
      .groupBy("doc_id", "span").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val fromIndex = Indexes.spanOccurrences(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(fromIndex === inline)
  }

  test("a corpus recommit moves the registry to a new epoch and rebuilds") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_vers_corpus").toString
    val st = new graft.io.TableStore(spark, root)
    st.commitVersioned("documents", Seq(
      (1L, "alpha beta alpha", "s0"), (2L, "alpha beta gamma", "s0"))
      .toDF("doc_id", "text", "source"))
    assert(Indexes.corpusEpoch(spark, root) === 1L)
    val words1 = Indexes.termFrequencies(spark, root)
      .collect().map(_.getString(1)).toSet
    assert(words1 === Set("alpha", "beta", "gamma"))
    // Gen-1 top pair: alpha's chars dominate, tie-break lands (a, l).
    assert(Indexes.bpeMerges(spark, root, 1) === Seq(("a", "l")))
    // Recommit the corpus: generation 2 with disjoint vocabulary. The
    // registry must serve indexes of the LIVE generation, not the
    // cached build of the superseded one.
    st.commitVersioned("documents", Seq(
      (1L, "delta epsilon", "s0")).toDF("doc_id", "text", "source"))
    assert(Indexes.corpusEpoch(spark, root) === 2L)
    val words2 = Indexes.termFrequencies(spark, root)
      .collect().map(_.getString(1)).toSet
    assert(words2 === Set("delta", "epsilon"),
      "registry served a stale generation's index")
    // The driver-side merge-table cache is epoch-keyed too: the same
    // call now trains on the gen-2 vocabulary ((d, e) is its
    // lexicographic all-ties winner), not the memoized gen-1 table.
    assert(Indexes.bpeMerges(spark, root, 1) === Seq(("d", "e")))
    // A versioned corpus keeps its derived indexes CO-LOCATED with the
    // data — the registry survives with the corpus, not the process.
    assert(new java.io.File(s"$root/_indexes").isDirectory,
      "versioned corpus indexes must land under <corpus>/_indexes")
  }

  test("registry persists across independent consumers without a rebuild") {
    import spark.implicits._
    val reg = tempDir("graft_reg")
    val corpus = tempDir("graft_raw_corpus")
    Seq((1L, "alpha beta gamma delta", "s0"), (2L, "alpha beta gamma epsilon", "s0"),
        (3L, "alpha beta gamma delta", "s1"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$corpus/documents.parquet")
    withIndexRoot(reg) {
      def listing: Seq[(String, Long)] = {
        def rec(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(rec)
          else Seq(f)
        rec(new java.io.File(reg)).map(f => f.getPath -> f.lastModified).sortBy(_._1)
      }
      val first = Indexes.signatures(spark, corpus)
        .collect().map(_.toString).sorted.toSeq
      val published = listing
      assert(published.nonEmpty, "build published nothing into the registry root")
      // A second consumer: the registry holds no in-process table
      // state, so this call resolves purely through the filesystem —
      // the exact path a fresh JVM (second process, restarted cluster)
      // takes. The published files must be byte-untouched: reuse, not
      // a silent rebuild.
      val again = Indexes.signatures(spark, corpus)
        .collect().map(_.toString).sorted.toSeq
      assert(listing === published,
        "second consumer rebuilt instead of reusing the published table")
      assert(again === first)
    }
  }

  test("a crashed partial publish (no _SUCCESS) is repaired, never nested into") {
    // The rename-race fix's observable contract: a dst directory
    // without `_SUCCESS` is a crashed process's garbage — the next
    // builder must REMOVE it and publish fresh (renaming onto an
    // existing directory would nest the new table inside the partial,
    // doubling rows under recursive listing), and junk part files
    // must not survive into the published table.
    import spark.implicits._
    val reg = tempDir("graft_reg_race")
    val corpus = tempDir("graft_raw_race")
    Seq((1L, "alpha beta gamma delta", "s0"), (2L, "alpha beta gamma epsilon", "s0"))
      .toDF("doc_id", "text", "source")
      .coalesce(1).write.parquet(s"$corpus/documents.parquet")
    withIndexRoot(reg) {
      val first = Indexes.signatures(spark, corpus)
        .collect().map(_.toString).sorted.toSeq
      def rec(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(rec) :+ f
        else Seq(f)
      val dst = rec(new java.io.File(reg))
        .find(f => f.isDirectory && f.getName == "minhash_sigs")
        .getOrElse(fail("published minhash_sigs not found in registry root"))
      // Simulate the crash: success marker gone, a junk part file left.
      assert(new java.io.File(dst, "_SUCCESS").delete())
      java.nio.file.Files.writeString(
        new java.io.File(dst, "part-99999-garbage.parquet").toPath, "not parquet")
      val again = Indexes.signatures(spark, corpus)
        .collect().map(_.toString).sorted.toSeq
      assert(again === first, "repair must rebuild the identical table")
      assert(new java.io.File(dst, "_SUCCESS").exists, "repair must republish complete")
      assert(!new java.io.File(dst, "part-99999-garbage.parquet").exists,
        "crashed partial's junk part file survived the repair")
      assert(!new java.io.File(dst, "minhash_sigs").exists,
        "repair nested the new table inside the partial")
    }
  }

  test("a raw corpus regenerated in place retrains the driver-side PQ and BPE tables") {
    // The PQ codebooks and BPE merges are memoized per process; a raw
    // corpus rewritten at the same path must retrain them, exactly as
    // a fresh process (here: the same bytes at another path) would.
    val emb = graft.io.Sources.table(spark, sf, "embeddings")
    def write(dir: String, d: DataFrame, e: DataFrame): Unit = {
      d.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      e.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    def state(dir: String) = (
      Indexes.pqCodebooks(spark, dir).map(_.map(_.toSeq)),
      Indexes.pqCodes(spark, dir).collect().map(_.toString).sorted.toSeq,
      Indexes.bpeMerges(spark, dir, BpeQueries.MonitorMerges),
      Indexes.bpeVocab(spark, dir, BpeQueries.MonitorMerges)
        .collect().map(_.toString).sorted.toSeq)
    val corpus = tempDir("graft_raw_regen")
    val copy = tempDir("graft_raw_regen_copy")
    // The regenerated content: every text reversed character-wise (a
    // different word vocabulary) and every vector's dimensions
    // reversed (different subspace codebooks).
    val docs2 = docs.withColumn("text", reverse(col("text")))
    val emb2 = emb.withColumn("embedding", reverse(col("embedding")))
    withIndexRoot(tempDir("graft_reg_regen")) {
      write(corpus, docs, emb)
      val before = state(corpus)
      write(corpus, docs2, emb2)
      write(copy, docs2, emb2)
      val after = state(corpus)
      assert(after === state(copy),
        "a regenerated raw corpus was served stale driver-side tables")
      assert(after._1 != before._1 && after._3 != before._3,
        "fixture: the regenerated corpus must train different tables")
    }
  }

  test("a cold rebuild reproduces every registry table") {
    // Every public accessor, with the parameters the declared queries
    // pass, built into two fresh registry roots: each landed table
    // must be identical as a multiset. This is the cross-process reuse
    // contract — a table built by one process is what any other
    // process would have built.
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val thr = LlmQueries.JaccardThreshold
    def buildAll(): Unit = {
      import Indexes._
      val s = spark
      shingles(s, sf); sourceShingles(s, sf); bpeWords(s, sf)
      bpeVocab(s, sf, BpeQueries.MonitorMerges); bpeMerges(s, sf, BpeQueries.NMerges)
      containmentGroups(s, sf); containmentReps(s, sf)
      containmentPairs(s, sf, thresholdPct = 80); winnowedPrints(s, sf, window = 8)
      signatures(s, sf); minhashPairScores(s, sf)
      simhashFingerprints(s, sf, bits = 32); simhashFingerprints(s, sf, bits = 60)
      neardupEdges(s, sf, thr); neardupLabels(s, sf, thr)
      neardupLabelsBase(s, sf, thr, maxId * 4 / 5) // q73's cutoff
      shingleOrigins(s, sf, maxId * 9 / 10); domainEdges(s, sf, maxId * 9 / 10) // q139's
      termFrequencies(s, sf); bigramFrequencies(s, sf); docLmScores(s, sf)
      bigramBuckets(s, sf); docTokens(s, sf); normTokens(s, sf); spanOccurrences(s, sf)
      kmeansCells(s, sf); kmeansCells64(s, sf); kmeansCellsAuto(s, sf)
      unigramVocab(s, sf); pqCodebooks(s, sf); pqCodes(s, sf); rpSignatures(s, sf)
      imagePhash(s, sf); imagePhashPng(s, sf); imagePhashGif(s, sf); imagePhashJpeg(s, sf)
      audioFingerprint(s, sf); audioFingerprintAdpcm(s, sf); audioFingerprintMdct(s, sf)
      videoPhashMjpeg(s, sf); videoSeqPhashMjpeg(s, sf)
      domainRanks(s, sf); trustedRanks(s, sf)
      imagePhashPairs(s, sf); audioFpPairs(s, sf); imagePhashLabels(s, sf, maxHamming = 3)
    }
    /** Published tables (directories holding `_SUCCESS`), keyed by
      * their path below the registry root. */
    def landed(root: String): Map[String, String] = {
      def rec(f: java.io.File): Seq[java.io.File] =
        if (new java.io.File(f, "_SUCCESS").exists) Seq(f)
        else Option(f.listFiles).toSeq.flatten.filter(_.isDirectory).flatMap(rec)
      val base = new java.io.File(root).toPath
      rec(new java.io.File(root))
        .map(f => base.relativize(f.toPath).toString -> f.getPath).toMap
    }
    val (a, b) = (tempDir("graft_reg_cold_a"), tempDir("graft_reg_cold_b"))
    withIndexRoot(a)(buildAll())
    withIndexRoot(b)(buildAll())
    val (ta, tb) = (landed(a), landed(b))
    assert(ta.keySet === tb.keySet)
    assert(ta.size === 47, ta.keys.toSeq.sorted.mkString(", "))
    for (t <- ta.keys.toSeq.sorted) {
      val (x, y) = (spark.read.parquet(ta(t)), spark.read.parquet(tb(t)))
      assert(x.schema === y.schema, t)
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty,
        s"$t differs between two cold builds")
    }
  }

  test("PQ codes round-trip the inline train+encode bit-exactly") {
    val e = graft.io.Sources.table(spark, sf, "embeddings")
    val inlineCbs = Similarity.pqTrainCodebooks(e, dim = 64, m = 4,
      kPerSub = 4, iters = 2)
    assert(Indexes.pqCodebooks(spark, sf).map(_.map(_.toSeq)) ===
      inlineCbs.map(_.map(_.toSeq)))
    val inlineCodes = Similarity.pqEncode(e, inlineCbs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val fromIndex = Indexes.pqCodes(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(fromIndex === inlineCodes)
  }
}
