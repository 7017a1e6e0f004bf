package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** REAL byte-pair encoding: a greedy merge table trained on the
  * corpus, then applied as a bounded chain of plain string replaces —
  * the trained-vocabulary tokenizer a training-data pipeline budgets
  * with ([[TextAnalysis.bpeTokenCount]] remains as the documented
  * one-pass regex APPROXIMATION for pipelines that cannot afford a
  * trained vocabulary; this is the real thing).
  *
  * Determinism is the design driver (the graft oracle contract): the
  * whole algorithm stays in exact string/integer space.
  *
  *   - Words are bracket-wrapped per symbol (`"hello"` →
  *     `"<h><e><l><l><o>"`), so ONE merge rule is ONE
  *     leftmost-non-overlapping `replace` of `"<a><b>"` with
  *     `"<ab>"`. The wrapping makes false matches impossible — a
  *     pattern can neither match the suffix of a longer symbol (no
  *     `<` before it) nor bleed into the next symbol (no `>` after
  *     it) — and adjacent occurrences share no characters, so every
  *     engine's replace (leftmost, continue after the replacement)
  *     produces the identical result. `<`/`>` cannot collide with
  *     content: symbols come from [[TextAnalysis.normalize]]'s
  *     `[a-z0-9]` alphabet.
  *   - Training is `nMerges` UNROLLED iterations (the q68 k-means
  *     discipline): count adjacent symbol pairs corpus-wide, take the
  *     argmax with the total order (count DESC, a ASC, b ASC) — ASCII
  *     on `[a-z0-9]`, identical in any engine — apply the rule,
  *     repeat. The DuckDB oracle replays the same unrolled chain.
  *   - Applying rules once each, in training order, equals canonical
  *     rank-order BPE apply: a merge can only create adjacencies
  *     involving its NEW symbol, which only LATER-trained rules can
  *     reference, so earlier rules never become applicable again.
  *
  * Scale shape: training is ONE corpus tokenize+group pass into the
  * word-type frequency table, then `nMerges` VOCABULARY-sized
  * aggregates, each ending in a ONE-ROW collect (a merge rule is
  * bounded metadata — the k-means-centroid/PQ-codebook discipline),
  * paid once per corpus and memoized in the index registry. Application is a pure per-document
  * map expression — a replace chain inside whole-stage codegen, no
  * shuffle, no UDF — so tokenizing 100 TB costs one map pass.
  */
object Bpe {

  /** Per-symbol bracket wrapping of one word. */
  def charWrap(w: Column): Column = regexp_replace(w, "(.)", "<$1>")

  /** Normalized, empty-filtered word array of a document. */
  def wordArray(text: Column): Column =
    filter(split(TextAnalysis.normalizeNfc(text), " "), w => w =!= "")

  /** The symbol array of a wrapped representation. */
  def symbols(rep: Column): Column = split(trim(rep, "<>"), "><")

  /** Apply a trained merge table as the CANONICAL rank-order BPE
    * encode over one wrapped representation: repeatedly merge the
    * lowest-rank (earliest-trained) pair present, leftmost
    * non-overlapping, until no trained pair remains. Equal to the
    * training-order replace chain by the equivalence argued in the
    * class doc (a merge only creates adjacencies involving its new
    * symbol, which only later rules reference, and fusing never
    * re-creates an earlier pair — new symbols are strictly longer),
    * and pinned against a training-order `replace` expression chain by
    * BpeSpec. Cost per word is O(applied merges × symbols) hash probes
    * — independent of the rule-table size, which is what makes a 512+-rule (and a
    * 32k-rule) vocabulary affordable per word type. */
  def applyMergesFn(merges: Seq[(String, String)]): String => String = {
    val rank = new java.util.HashMap[String, Integer](merges.size * 2)
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      rank.put(a + "\u0000" + b, i): Unit
    }
    rep => {
      // Unwrap "<s1><s2>…" into symbols.
      var syms = Array.newBuilder[String].result()
      if (rep.nonEmpty) {
        val body = rep.substring(1, rep.length - 1)
        syms = body.split("><", -1)
      }
      var n = syms.length
      var done = n < 2
      while (!done) {
        var bestRank = Int.MaxValue
        var bestA: String = null
        var bestB: String = null
        var i = 0
        while (i < n - 1) {
          val r = rank.get(syms(i) + "\u0000" + syms(i + 1))
          if (r != null && r < bestRank) {
            bestRank = r; bestA = syms(i); bestB = syms(i + 1)
          }
          i += 1
        }
        if (bestA == null) done = true
        else {
          // Merge every leftmost-non-overlapping occurrence of the pair.
          val out = new Array[String](n)
          var w = 0
          var j = 0
          while (j < n) {
            if (j < n - 1 && syms(j) == bestA && syms(j + 1) == bestB) {
              out(w) = bestA + bestB; w += 1; j += 2
            } else { out(w) = syms(j); w += 1; j += 1 }
          }
          syms = out; n = w
          done = n < 2
        }
      }
      val sb = new java.lang.StringBuilder(rep.length)
      var k = 0
      while (k < n) { sb.append('<').append(syms(k)).append('>'); k += 1 }
      sb.toString
    }
  }

  /** Scala-side [[charWrap]] (alphabet is normalize's `[a-z0-9]` —
    * single-char codepoints, so per-char wrapping is exact). */
  def charWrapStr(w: String): String = {
    val sb = new java.lang.StringBuilder(w.length * 3)
    var i = 0
    while (i < w.length) { sb.append('<').append(w.charAt(i)).append('>'); i += 1 }
    sb.toString
  }

  /** Per-partition memo cap for [[withMergedReps]] — vocabulary-sized
    * in practice (Zipf); the cap only bounds pathological corpora
    * (every word unique), where extra words just compute directly. */
  val RepMemoCap = 1 << 20

  /** Append `repsCol` — the merged representations of `wsCol`'s word
    * array, in order — to `df`: ONE per-partition pass with a
    * word→rep memo, so the replace chain runs once per word TYPE per
    * partition (the training rework's trade, applied to encode).
    * This is the sanctioned per-partition-imperative case: a trained
    * merge table is bounded metadata, and applying 512+ rules as an
    * expression tree is exactly what Catalyst is bad at (one nested
    * `replace` node per rule is codegen-hostile, and its evaluation
    * recursed once per rule per row into a measured
    * StackOverflowError on executor threads at sf10); normalization
    * upstream and all token arithmetic downstream stay in expression
    * space. Row-preserving,
    * schema = input + `repsCol` array<string>. */
  def withMergedReps(df: DataFrame, wsCol: String,
                     merges: Seq[(String, String)],
                     repsCol: String,
                     dropInput: Boolean = false): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StringType, StructType}
    val idx = df.schema.fieldIndex(wsCol)
    // `dropInput` excludes the word array from the OUTPUT schema:
    // every caller that discards it afterwards would otherwise pay
    // its serialization back across the object boundary — at sf10
    // that is 27 M strings re-encoded for a projection to drop.
    val kept = df.schema.fields.indices.filter(i => !dropInput || i != idx)
    val schema = StructType(kept.map(df.schema.fields))
      .add(repsCol, ArrayType(StringType))
    df.mapPartitions { rows =>
      val applyAll = applyMergesFn(merges)
      val memo = new java.util.HashMap[String, String]()
      rows.map { r =>
        val reps = r.getSeq[String](idx).map { w =>
          var v = memo.get(w)
          if (v == null) {
            v = applyAll(charWrapStr(w))
            if (memo.size < RepMemoCap) memo.put(w, v): Unit
          }
          v
        }
        org.apache.spark.sql.Row.fromSeq(kept.map(r.get) :+ reps)
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Trained-BPE ENCODE straight to token ids: appends `nTokCol`
    * (bigint) and `idSeqCol` (space-joined vocabulary ids, string) in
    * the same single memoized per-partition pass as
    * [[withMergedReps]], with the word's id string computed ONCE per
    * word type. Replaces the expression-space spelling (per-symbol
    * `element_at` on a literal map — a LINEAR scan of |V| per lookup,
    * ~|V|·symbols comparisons corpus-wide, plus a second pass over
    * every representation) that q129 previously paid on top of the
    * merge pass. `idOf` must cover every symbol the merge table can
    * produce over the corpus (derive it from the distinct-word symbol
    * set); an unmapped symbol fails loudly — a silent default would
    * hash-mismatch the oracle anyway, so fail at the word instead. */
  def withEncodedIds(df: DataFrame, wsCol: String,
                     merges: Seq[(String, String)],
                     idOf: Map[String, Long],
                     nTokCol: String, idSeqCol: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val idx = df.schema.fieldIndex(wsCol)
    val kept = df.schema.fields.indices.filter(_ != idx)
    val schema = StructType(kept.map(df.schema.fields))
      .add(nTokCol, LongType).add(idSeqCol, StringType)
    df.mapPartitions { rows =>
      val applyAll = applyMergesFn(merges)
      val ids = new java.util.HashMap[String, String](idOf.size * 2)
      idOf.foreach { case (s, i) => ids.put(s, i.toString): Unit }
      // word type → (symbol count, id string) — one merge loop and
      // one id mapping per type per partition.
      val memo = new java.util.HashMap[String, (Long, String)]()
      rows.map { r =>
        val ws = r.getSeq[String](idx)
        var n = 0L
        val sb = new java.lang.StringBuilder()
        ws.foreach { w =>
          var v = memo.get(w)
          if (v == null) {
            val rep = applyAll(charWrapStr(w))
            val syms =
              if (rep.isEmpty) Array.empty[String]
              else rep.substring(1, rep.length - 1).split("><", -1)
            val wsb = new java.lang.StringBuilder(rep.length)
            var k = 0
            while (k < syms.length) {
              val id = ids.get(syms(k))
              require(id != null, s"withEncodedIds: symbol '${syms(k)}' " +
                s"of word '$w' is not in the vocabulary (|V|=${idOf.size})")
              if (k > 0) wsb.append(' ')
              wsb.append(id): Unit
              k += 1
            }
            v = (syms.length.toLong, wsb.toString)
            if (memo.size < RepMemoCap) memo.put(w, v): Unit
          }
          n += v._1
          if (v._2.nonEmpty) {
            if (sb.length > 0) sb.append(' ')
            sb.append(v._2): Unit
          }
        }
        org.apache.spark.sql.Row.fromSeq(kept.map(r.get) :+ n :+ sb.toString)
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Adjacent symbol pairs of each representation row — `(a, b)`
    * structs, one per adjacency. `zip_with` over two slices keeps the
    * pair generation a pure array expression (the slices are lambda
    * ARGUMENTS, evaluated once — not captured subtrees). */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), size(syms) - 1),
      slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("a"), b.as("b")))

  /** Iterations between lineage truncations in [[trainMerges]]: the
    * loop appends one `replace` per merge, so UNTRUNCATED iteration k
    * re-evaluates k replaces over the corpus — O(n²) string work and
    * an ever-deeper Catalyst plan across n merges (fine at the old
    * toy n = 10, ruinous at a production-shaped 64+). Materializing
    * the representations every 8 merges caps both the per-iteration
    * replace chain and the analysis depth at a constant, making total
    * training work ∝ nMerges · corpus — the loop's scale shape is
    * then exactly "n bounded aggregates", as documented above. */
  val TruncateEvery = 8

  /** Train a greedy BPE merge table over `docs(textCol)`: `nMerges`
    * bounded iterations, each one pair-count aggregate + a one-row
    * argmax collect. Stops early if no adjacent pair remains.
    *
    * Trains over the WORD-TYPE FREQUENCY table, not word instances —
    * the standard BPE trainer shape (Sennrich et al.'s public
    * algorithm works off the word-frequency dict): ONE corpus pass
    * builds (word, count), and every iteration's pair count is the
    * count-weighted sum over types — IDENTICAL totals, hence an
    * identical merge table, but per-iteration work drops from corpus
    * size to vocabulary size. Zipf makes that the whole ballgame at
    * scale: the corpus grows 100×, the vocabulary barely moves, so
    * n-merge training cost is ~one corpus scan plus n
    * vocabulary-sized aggregates (measured: 64→512 merges at sf0.1
    * in under the old 64-merge budget). Distinct words keep distinct
    * representations under every merge (reps are a pure function of
    * the word), so the type table never needs re-grouping. */
  def trainMerges(docs: DataFrame, textCol: String,
                  nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 0, s"trainMerges: nMerges=$nMerges")
    // Eagerly pinned: the corpus tokenize+groupBy must run ONCE, not
    // once per iteration (truncation below re-pins every
    // TruncateEvery merges).
    var reps = docs
      .select(explode(wordArray(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(charWrap(col("w")).as("rep"), col("n"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      val top = reps
        .select(symbols(col("rep")).as("syms"), col("n"))
        .select(explode(adjacentPairs(col("syms"))).as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        reps = reps.withColumn("rep",
          replace(col("rep"), lit(s"<$a><$b>"), lit(s"<$a$b>")))
        // Bake accumulated replaces into stored rows so the chain —
        // and the plan — stay constant-depth (eager: the truncation
        // must happen HERE, not lazily inside the next aggregate).
        // Superseded checkpoint blocks are freed by the context
        // cleaner once unreferenced.
        if (merges.size % TruncateEvery == 0)
          reps = reps.localCheckpoint(true)
      }
    }
    merges.toSeq
  }

  /** Collect bound for [[trainMergesInMemory]]'s word-type table. A
    * type row is a short word + a count (~tens of bytes); 4M types is
    * ~100–200 MB driver heap — above any natural-language vocabulary
    * (web-scale corpora realize ~10⁶–10⁷ types, and the type table
    * grows ~logarithmically past that while the corpus grows without
    * bound). Corpora past the bound fail loudly toward the
    * distributed trainers. */
  val InMemoryTypeCap = 4000000

  /** The production trainer for real vocabularies: ONE distributed
    * corpus pass builds the (word, count) TYPE table — the only
    * corpus-sized work in BPE training — then the greedy merge loop
    * runs driver-side over the collected types with incremental
    * pair-count maintenance. The type table is bounded metadata by
    * Zipf's law (the PQ-codebook/k-means-centroid collect discipline,
    * applied to the one structure that makes per-merge DISTRIBUTED
    * aggregates pointless at high rule counts: 32k merges at ~2 jobs
    * each is ~an hour of job overhead for aggregates over a table
    * that fits in driver memory thousands of times over).
    *
    * EXACTLY the same merge table as [[trainMerges]] (same pair
    * totals, same (count DESC, a ASC, b ASC) argmax — BpeSpec pins
    * equality on seeded corpora and the harness corpus): counts are
    * maintained incrementally (a merge retunes only the pairs
    * adjacent to its occurrences), the argmax rescans the pair map
    * (O(|pairs|) per rule — the measured regime's cost driver, with
    * an ordered-heap upgrade path if a profile ever demands it). */
  def trainMergesInMemory(docs: DataFrame, textCol: String,
                          nMerges: Int,
                          maxTypes: Int = InMemoryTypeCap): Seq[(String, String)] =
    trainMergesFromTypes(
      docs.select(explode(wordArray(col(textCol))).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n")),
      nMerges, maxTypes)

  /** [[trainMergesInMemory]] from an ALREADY-BUILT word-TYPE table
    * `(w, n)` — the vocabulary-MAINTENANCE entry point (q210): word-
    * type counts are additive, so a persisted type table folds a new
    * batch in with one counts-sum and retrains here without ever
    * re-scanning the old corpus text. Same greedy loop, same
    * (count DESC, a ASC, b ASC) argmax — identical merge table to the
    * from-corpus trainers whenever the type table is equal. */
  def trainMergesFromTypes(types: DataFrame, nMerges: Int,
                           maxTypes: Int = InMemoryTypeCap): Seq[(String, String)] = {
    require(nMerges >= 0, s"trainMergesFromTypes: nMerges=$nMerges")
    val typeRows = types
      .select(col("w"), col("n").cast("long").as("n"))
      .limit(maxTypes + 1).collect()
    require(typeRows.length <= maxTypes,
      s"trainMergesFromTypes: word-type table exceeds $maxTypes rows — " +
        "use trainMergesBatched (distributed) for this corpus")
    val words: Array[Array[String]] =
      typeRows.map(r => r.getString(0).map(_.toString).toArray)
    val counts: Array[Long] = typeRows.map(_.getLong(1))

    // pair key -> total count; pair key -> word indexes containing it.
    // Keys are "a\u0000b" (symbols are NUL-free by construction).
    val pairCount = new java.util.HashMap[String, Long]()
    val pairWords = new java.util.HashMap[String, java.util.HashSet[Integer]]()
    def key(a: String, b: String) = a + "\u0000" + b
    def bump(a: String, b: String, w: Int, d: Long): Unit = {
      val k = key(a, b)
      val nv = pairCount.getOrDefault(k, 0L) + d
      if (nv == 0L) pairCount.remove(k)
      else pairCount.put(k, nv): Unit
      if (d > 0)
        pairWords.computeIfAbsent(k, _ => new java.util.HashSet[Integer]())
          .add(Integer.valueOf(w)): Unit
      // Stale word indexes (no remaining occurrence) are tolerated:
      // the re-merge scan below recounts from the word itself.
    }
    var wi = 0
    while (wi < words.length) {
      val ws = words(wi)
      var i = 0
      while (i < ws.length - 1) { bump(ws(i), ws(i + 1), wi, counts(wi)); i += 1 }
      wi += 1
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    while (merges.size < nMerges && !pairCount.isEmpty) {
      // Argmax under the exact trainer's total order.
      var bestK: String = null
      var bestC = Long.MinValue
      val it = pairCount.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue
        if (c > bestC || (c == bestC && e.getKey < bestK)) {
          bestC = c; bestK = e.getKey
        }
      }
      val sep = bestK.indexOf('\u0000')
      val a = bestK.substring(0, sep)
      val b = bestK.substring(sep + 1)
      merges += ((a, b))
      val ab = a + b
      // bestK stays in pairCount through the recount: every current
      // (a,b) occurrence is removed by its word's −n bump and none is
      // re-added (a merged pair cannot survive its own merge, and new
      // adjacencies only involve the new symbol), so its count lands
      // on exactly 0 and the bump removes the key — removing it up
      // front instead would let the −n bumps re-insert it negative.
      val touched = pairWords.remove(bestK)
      if (touched != null) {
        val tit = touched.iterator()
        while (tit.hasNext) {
          val w = tit.next().intValue()
          val ws = words(w)
          val n = counts(w)
          // Remove this word's old adjacencies, re-merge, re-add new
          // ones — exact recount for every pair this word carries.
          var i = 0
          while (i < ws.length - 1) { bump(ws(i), ws(i + 1), w, -n); i += 1 }
          val out = new Array[String](ws.length)
          var o = 0
          var j = 0
          while (j < ws.length) {
            if (j < ws.length - 1 && ws(j) == a && ws(j + 1) == b) {
              out(o) = ab; o += 1; j += 2
            } else { out(o) = ws(j); o += 1; j += 1 }
          }
          val nw = java.util.Arrays.copyOf(out, o)
          words(w) = nw
          i = 0
          while (i < nw.length - 1) { bump(nw(i), nw(i + 1), w, n); i += 1 }
        }
      }
      require(!pairCount.containsKey(bestK),
        s"trainMergesInMemory: '$bestK' count did not cancel — recount bug")
    }
    merges.toSeq
  }

  /** The registry's trainer: in-memory when the word-type table fits
    * the collect bound (every natural-language corpus — measured 512
    * rules 196 s sequential / 116 s batched / 2.5 s in-memory on an
    * 86k-type corpus, 32k rules in 86 s), distributed batched past it.
    * The overflow probe IS trainMergesInMemory's bounded
    * `limit(cap+1)` collect — no extra corpus pass. */
  def trainMergesAuto(docs: DataFrame, textCol: String,
                      nMerges: Int): Seq[(String, String)] =
    try trainMergesInMemory(docs, textCol, nMerges)
    catch {
      case e: IllegalArgumentException
          if Option(e.getMessage).exists(_.contains("word-type table exceeds")) =>
        trainMergesBatched(docs, textCol, nMerges)
    }

  /** Candidate pairs collected per aggregate by [[trainMergesBatched]].
    * Bounded driver metadata (the one-row-collect discipline, widened:
    * topK rows of two short symbols + a count each). */
  val BatchTopK = 2048

  /** Max merges accepted from one aggregate — caps the per-batch
    * replace chain applied to the type table (the [[TruncateEvery]]
    * depth discipline) independently of how permissive the
    * non-interaction analysis turns out to be. */
  val MaxBatchMerges = 64

  /** [[trainMerges]] with the standard batched-selection trick: each
    * pair-count aggregate collects the top-[[BatchTopK]] pairs and
    * accepts a PREFIX of them per round instead of only the argmax,
    * cutting the number of corpus-wide aggregates (the per-merge job
    * overhead that dominates a 32k-vocabulary training run) by the
    * average batch size.
    *
    * PROVABLY identical output to the sequential trainer (BpeSpec pins
    * equality at 512 merges on the corpus; a seeded ScalaCheck corpus
    * pins it across shapes). The accepted prefix preserves the
    * sequential selection order because each acceptance re-checks, in
    * sorted (count DESC, a, b) order, that the sequential trainer
    * would have picked exactly this pair next:
    *
    *   1. STOP at the first candidate sharing a symbol with an
    *      already-accepted pair. Applying an accepted merge can change
    *      that candidate's count (occurrences consumed into the new
    *      symbol), so its sequential rank is unknown — and every later
    *      candidate could in turn lose to it. Disjoint candidates'
    *      counts are untouched by construction (their occurrences
    *      involve none of the merged symbols).
    *   2. STOP once a candidate's count stops STRICTLY exceeding the
    *      spawn bound. A merge (a,b) creates only pairs touching its
    *      new symbol — (x,ab) from an old (x,a) adjacency, (ab,y) from
    *      an old (b,y) — so each new pair's count is bounded by the
    *      OLD count of a pair ending in `a` or starting with `b`: the
    *      max such count over already-accepted merges (off-list pairs
    *      bounded by the K-th count when the collect truncated) is the
    *      highest any spawned pair could score. Strict `>` keeps ties
    *      out: a spawned pair tying the candidate could win the
    *      sequential (a, b) lexicographic tie-break.
    *
    * Early symbol-rich rounds batch small (every top pair shares `e`/
    * `a`/`s`); the batch widens as the alphabet diversifies — measured
    * curve in ROUND12_NOTES. */
  def trainMergesBatched(docs: DataFrame, textCol: String,
                         nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 0, s"trainMergesBatched: nMerges=$nMerges")
    var reps = docs
      .select(explode(wordArray(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(charWrap(col("w")).as("rep"), col("n"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    var pendingDepth = 0
    while (merges.size < nMerges && !exhausted) {
      val top = reps
        .select(symbols(col("rep")).as("syms"), col("n"))
        .select(explode(adjacentPairs(col("syms"))).as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(BatchTopK).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true
      else {
        // Off-list pairs (only possible when the collect truncated at
        // BatchTopK) score at most the K-th count.
        val offListBound = if (top.length == BatchTopK) top.last._3 else Long.MinValue
        val used = scala.collection.mutable.Set.empty[String]
        var spawnBound = Long.MinValue
        val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        var stop = false
        var i = 0
        while (!stop && i < top.length &&
               merges.size + batch.size < nMerges) {
          val (a, b, c) = top(i)
          if (c <= spawnBound) stop = true                      // rule 2
          else if (used.contains(a) || used.contains(b)) stop = true // rule 1
          else {
            batch += ((a, b))
            used += a; used += b
            if (batch.size >= MaxBatchMerges) stop = true
            else {
              // Pairs whose old count bounds this merge's spawned pairs:
              // ending in `a` (→ (x,ab)) or starting with `b` (→ (ab,y)).
              // The accepted pair itself is excluded (its occurrences
              // vanish) — EXCEPT a self-pair (a,a), whose own middle
              // adjacencies bound the spawned (aa,aa) ("aaaa" → "aa aa"),
              // so its count stays in the bound (and, being ≥ every
              // later candidate, correctly ends the batch there).
              var sb = offListBound
              var j = 0
              while (j < top.length) {
                val q = top(j)
                val isSelf = q._1 == a && q._2 == b && a != b
                if ((q._2 == a || q._1 == b) && !isSelf && q._3 > sb) sb = q._3
                j += 1
              }
              if (sb > spawnBound) spawnBound = sb
            }
          }
          i += 1
        }
        merges ++= batch
        reps = reps.withColumn("rep",
          batch.foldLeft(col("rep")) { case (r, (a, b)) =>
            replace(r, lit(s"<$a><$b>"), lit(s"<$a$b>"))
          })
        // Truncate on the ACCUMULATED chain depth, not per batch: on
        // near-tied count distributions the analysis degrades to
        // 1–2-merge batches (measured — the md5-uniform worst case),
        // and a checkpoint job per tiny batch doubles the job count.
        // The [[TruncateEvery]] depth cap still bounds every
        // aggregate's replace chain.
        pendingDepth += batch.size
        if (pendingDepth >= TruncateEvery) {
          reps = reps.localCheckpoint(true)
          pendingDepth = 0
        }
      }
    }
    merges.toSeq
  }
}
