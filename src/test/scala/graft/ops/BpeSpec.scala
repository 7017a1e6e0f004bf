package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.TestSpark

class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The expression oracle: a trained merge table applied in training
    * order as a chain of `replace` expressions, one per rule. Small
    * tables only — at a real vocabulary (512+) the nested chain is
    * codegen-hostile and recurses once per rule per row. */
  private def applyMerges(rep: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(rep) { case (r, (a, b)) =>
      replace(r, lit(s"<$a><$b>"), lit(s"<$a$b>"))
    }

  test("trainMerges learns the hand-computed greedy merges in order") {
    // Corpus: "low low lower lowest". Pair counts round 1:
    // (l,o)=4, (o,w)=4, (w,e)=2, (e,r)=1, (e,s)=1, (s,t)=1 →
    // tie 4-4 breaks to (l,o) (a ASC). Round 2: lo+w appears 4x →
    // (lo,w). Round 3: (low,e)=2 wins over the 1-count pairs.
    val docs = Seq("low low lower lowest").toDF("text")
    val merges = Bpe.trainMerges(docs, "text", 3)
    assert(merges === Seq(("l", "o"), ("lo", "w"), ("low", "e")))
  }

  test("applyMerges reproduces greedy leftmost application, runs included") {
    val docs = Seq("aaaa aaa").toDF("text")
    // Round 1: (a,a) count = 3+2 = 5 → merge. "aaaa"→<aa><aa>,
    // "aaa"→<aa><a> (leftmost non-overlapping — the odd 'a' stays).
    // Round 2: (aa,aa)=1, (aa,a)=1 → tie on count, (aa,a) < (aa,aa)
    // lexicographically on b.
    val merges = Bpe.trainMerges(docs, "text", 2)
    assert(merges === Seq(("a", "a"), ("aa", "a")))
    val got = docs
      .select(transform(Bpe.wordArray(col("text")),
        w => applyMerges(Bpe.charWrap(w), merges)).as("reps"))
      .select(array_join(col("reps"), " "))
      .as[String].head()
    assert(got === "<aa><aa> <aaa>")
  }

  test("withMergedReps (iterative per-partition apply) equals the expression chain") {
    // Random-ish corpus with repeats, runs, and single chars; rules
    // trained on it so multi-level merges exist. The iterative
    // String.replace fold and the replace-expression chain must agree
    // word-for-word (leftmost non-overlapping, continue-after).
    // Randomized tail (seeded): deep multi-level merges over a tiny
    // alphabet force re-created-adjacency edge cases, pinning the
    // rank-order encode == training-order replace-chain equivalence.
    val rnd = new scala.util.Random(49)
    val rand = Seq.fill(40)(
      Seq.fill(1 + rnd.nextInt(8))(
        Seq.fill(1 + rnd.nextInt(6))("ab" (rnd.nextInt(2))).mkString)
        .mkString(" "))
    val docs = (Seq("aaaa aaa ab", "low low lower lowest", "b aab aaab",
        "", "x") ++ rand).toDF("text")
    val merges = Bpe.trainMerges(docs, "text", 24)
    val base = docs.select(Bpe.wordArray(col("text")).as("__ws"))
    val viaExpr = base
      .select(transform(col("__ws"),
        w => applyMerges(Bpe.charWrap(w), merges)).as("reps"))
      .select(array_join(col("reps"), " ")).as[String].collect().toSeq
    val viaFn = Bpe.withMergedReps(base, "__ws", merges, "reps")
      .select(array_join(col("reps"), " ")).as[String].collect().toSeq
    assert(viaFn === viaExpr)
    // And the scalar helpers agree with the wrapped forms directly.
    val f = Bpe.applyMergesFn(merges)
    assert(f(Bpe.charWrapStr("aaaa")) ===
      Seq("aaaa").toDF("w")
        .select(applyMerges(Bpe.charWrap(col("w")), merges))
        .as[String].head())
  }

  test("withEncodedIds equals the expression-space id mapping, dropInput drops") {
    // Same corpus shape as the withMergedReps pin; ids assigned by
    // the q129 convention (distinct symbols of the corpus under the
    // merge table, sorted, 0-based). The single-pass encode must
    // reproduce the two-pass spelling exactly — counts, id order,
    // spacing, and the empty-document row.
    val rnd = new scala.util.Random(50)
    val rand = Seq.fill(30)(
      Seq.fill(1 + rnd.nextInt(8))(
        Seq.fill(1 + rnd.nextInt(6))("ab" (rnd.nextInt(2))).mkString)
        .mkString(" "))
    val docs = (Seq("aaaa aaa ab", "low low lower lowest", "b aab aaab",
        "", "x") ++ rand).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val merges = Bpe.trainMerges(docs, "text", 24)
    val base = docs.select(col("doc_id"), Bpe.wordArray(col("text")).as("__ws"))
    val vocab = Bpe.withMergedReps(base, "__ws", merges, "reps")
      .select(explode(col("reps")).as("rep"))
      .select(explode(Bpe.symbols(col("rep"))).as("sym"))
      .distinct().orderBy("sym").as[String].collect()
    val idOf = vocab.zipWithIndex.map { case (s, i) => (s, i.toLong) }.toMap
    val idLit = typedlit(idOf)
    val viaExpr = Bpe.withMergedReps(base, "__ws", merges, "reps")
      .select(col("doc_id"),
        aggregate(col("reps"), lit(0L),
          (acc, r) => acc + size(Bpe.symbols(r))).as("n_tok"),
        array_join(transform(col("reps"), r =>
          array_join(transform(Bpe.symbols(r),
            sym => element_at(idLit, sym).cast("string")), " ")), " ")
          .as("id_seq"))
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    val viaFn = Bpe.withEncodedIds(base, "__ws", merges, idOf, "n_tok", "id_seq")
      .orderBy("doc_id").collect().map(_.toSeq).toSeq
    assert(viaFn === viaExpr)
    // dropInput: the word array is absent from the output schema.
    assert(!Bpe.withEncodedIds(base, "__ws", merges, idOf, "n", "i")
      .columns.contains("__ws"))
    assert(!Bpe.withMergedReps(base, "__ws", merges, "reps", dropInput = true)
      .columns.contains("__ws"))
    assert(Bpe.withMergedReps(base, "__ws", merges, "reps")
      .columns.contains("__ws"))
  }

  test("greedy training is prefix-stable (the q155 monitor contract)") {
    // Rule k depends only on rules < k, so an n-merge table is a
    // prefix of any longer table over the same corpus — what lets
    // the drift monitor slice the persisted 512-rule table instead
    // of training again.
    val docs = Seq("low low lower lowest", "aaaa aaa ab b aab").toDF("text")
    val m12 = Bpe.trainMerges(docs, "text", 12)
    assert(m12.take(4) === Bpe.trainMerges(docs, "text", 4))
    assert(m12.take(8) === Bpe.trainMerges(docs, "text", 8))
  }

  test("training stops early when no adjacent pair remains") {
    // Single-char words only: zero adjacencies, zero merges.
    val docs = Seq("a b c d").toDF("text")
    assert(Bpe.trainMerges(docs, "text", 5) === Seq.empty)
    assert(Bpe.trainMergesBatched(docs, "text", 5) === Seq.empty)
  }

  test("batched trainer == sequential trainer on adversarial seeded corpora") {
    // The batched trainer's whole claim is bit-identical merge tables.
    // Tiny-alphabet seeded corpora maximize batch-breaking interactions
    // (shared symbols, self-pairs, spawned-pair near-ties) — exactly
    // where a wrong non-interaction rule would diverge. Run lengths
    // force (a,a) self-merges; the ab-alternations force spawned pairs
    // like (ab,ab) whose counts sit next to the following candidate's.
    for (seed <- Seq(7, 48, 201)) {
      val rnd = new scala.util.Random(seed)
      val docs = Seq.fill(60)(
        Seq.fill(1 + rnd.nextInt(7))(
          Seq.fill(1 + rnd.nextInt(9))("aab" (rnd.nextInt(3))).mkString)
          .mkString(" ")).toDF("text")
      val seqM = Bpe.trainMerges(docs, "text", 40)
      val batM = Bpe.trainMergesBatched(docs, "text", 40)
      assert(batM === seqM, s"divergence at seed $seed")
    }
    // A wider-alphabet corpus where batches actually widen.
    val rnd = new scala.util.Random(99)
    val wide = Seq.fill(80)(
      Seq.fill(2 + rnd.nextInt(6))(
        Seq.fill(2 + rnd.nextInt(7))("abcdefgh" (rnd.nextInt(8))).mkString)
        .mkString(" ")).toDF("text")
    assert(Bpe.trainMergesBatched(wide, "text", 64) ===
      Bpe.trainMerges(wide, "text", 64))
  }

  test("in-memory trainer == sequential trainer (the production path's gate)") {
    // Same adversarial seeded corpora as the batched gate: runs,
    // self-merges, overlap-blind count vs non-overlapping merge
    // interplay, near-ties — where an incremental-recount bug or a
    // wrong argmax order diverges immediately.
    for (seed <- Seq(7, 48, 201)) {
      val rnd = new scala.util.Random(seed)
      val docs = Seq.fill(60)(
        Seq.fill(1 + rnd.nextInt(7))(
          Seq.fill(1 + rnd.nextInt(9))("aab" (rnd.nextInt(3))).mkString)
          .mkString(" ")).toDF("text")
      assert(Bpe.trainMergesInMemory(docs, "text", 40) ===
        Bpe.trainMerges(docs, "text", 40), s"divergence at seed $seed")
    }
    val rnd = new scala.util.Random(99)
    val wide = Seq.fill(80)(
      Seq.fill(2 + rnd.nextInt(6))(
        Seq.fill(2 + rnd.nextInt(7))("abcdefgh" (rnd.nextInt(8))).mkString)
        .mkString(" ")).toDF("text")
    assert(Bpe.trainMergesInMemory(wide, "text", 64) ===
      Bpe.trainMerges(wide, "text", 64))
    // The type-cap contract fails loudly toward the distributed path.
    val e = intercept[IllegalArgumentException](
      Bpe.trainMergesInMemory(wide, "text", 4, maxTypes = 3))
    assert(e.getMessage.contains("trainMergesBatched"))
  }

  test("batched trainer == sequential at 512 merges on the harness corpus") {
    // The declared-config gate the production path rides on: identical
    // 512-rule tables over the real sf0.001 documents table (the
    // registry's bpe_merges_n512 is built by the BATCHED trainer; the
    // five BPE oracles replay the sequential formulation in DuckDB —
    // this equality is what keeps them hash-exact).
    val docs = graft.io.Sources.table(spark, "/root/testdata/sf0.001", "documents")
    val seqM = Bpe.trainMerges(docs, "text", 512)
    assert(Bpe.trainMergesBatched(docs, "text", 512) === seqM)
    assert(Bpe.trainMergesInMemory(docs, "text", 512) === seqM)
  }

  test("incremental vocab maintenance: fold == rebuild of the type table," +
      " and training from the fold == training from scratch (q210)") {
    val rnd = new scala.util.Random(23)
    val docs = (1 to 80).map(i =>
      (i.toLong, Seq.fill(3 + rnd.nextInt(8))(
        Seq.fill(1 + rnd.nextInt(8))("abcde" (rnd.nextInt(5))).mkString)
        .mkString(" "))).toDF("doc_id", "text")
    def typesOf(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(Bpe.wordArray(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
    val cut = 64L
    // Fold = persisted corpus types + batch types, counts summed.
    val folded = typesOf(docs.filter(col("doc_id") < cut))
      .unionByName(typesOf(docs.filter(col("doc_id") >= cut)))
      .groupBy("w").agg(sum(col("n")).as("n"))
    // Fold ≡ rebuild: identical (w, n) multiset to a from-scratch
    // type table over the whole corpus.
    val rebuilt = typesOf(docs)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(folded.collect().map(r => (r.getString(0), r.getLong(1))).toSet
      === rebuilt)
    // And the from-types trainer over the fold is the from-scratch
    // trainer, rule for rule.
    assert(Bpe.trainMergesFromTypes(folded, 48) ===
      Bpe.trainMerges(docs, "text", 48))
  }

  test("the real-BPE counter plugs into the budget operator unchanged") {
    // tokenBudget/packSequences are parameterized by a token-count
    // COLUMN: swapping the whitespace counter for the trained-BPE
    // counter is this expression — no operator change. (The declared
    // q62/q63 keep whitespace counts so their oracles stay about
    // packing mechanics; q98 oracles the BPE chain itself.)
    val docs = Seq((1L, "sa", "low low lower"), (2L, "sa", "lowest low"))
      .toDF("doc_id", "source", "text")
    val merges = Bpe.trainMerges(docs, "text", 3)
    assert(merges === Seq(("l", "o"), ("lo", "w"), ("low", "e")))
    val bpeCount = aggregate(
      transform(Bpe.wordArray(col("text")),
        w => size(Bpe.symbols(applyMerges(Bpe.charWrap(w), merges)))),
      lit(0), (a, n) => a + n)
    val got = graft.ops.Sampling.tokenBudget(docs, "source", "doc_id",
        bpeCount, budgets = Map.empty, defaultBudget = 8L)
      .select("doc_id", "n_tok").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // low=1 symbol, lower=<lowe><r>=2, lowest=<lowe><s><t>=3 →
    // doc 1: 1+1+2 = 4, doc 2: 3+1 = 4; both fit the budget.
    assert(got === Map(1L -> 4L, 2L -> 4L))
  }

  test("symbol counts: merge table shrinks token counts, never grows them") {
    val docs = Seq("stream streaming streams", "the theme then").toDF("text")
    val merges = Bpe.trainMerges(docs, "text", 6)
    assert(merges.size === 6)
    val counts = docs
      .select(Bpe.wordArray(col("text")).as("words"))
      .select(
        aggregate(transform(col("words"), w => length(w)), lit(0),
          (a, n) => a + n).as("chars"),
        aggregate(transform(col("words"),
            w => size(Bpe.symbols(applyMerges(Bpe.charWrap(w), merges)))),
          lit(0), (a, n) => a + n).as("bpe"))
      .collect()
    counts.foreach { r =>
      assert(r.getInt(1) < r.getInt(0), "merges must compress")
      assert(r.getInt(1) > 0)
    }
  }
}
