package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Sources.table
import graft.ops.Bpe

/** Real-BPE tokenization queries (SURVEY.md LLM-pipeline family).
  *
  * q98 runs the WHOLE trained-tokenizer pipeline under the oracle
  * gate: merge-table training ([[NMerges]] greedy merges, corpus-wide
  * argmax per iteration) and application (a replace chain per word)
  * both live in exact string/integer space, so the DuckDB oracle
  * replays training as [[NMerges]] GENERATED MATERIALIZED CTE
  * iterations — the q68 unrolled-k-means discipline applied to a
  * tokenizer — and must reproduce every merged representation string
  * bit-for-bit. The
  * Spark side reads the memoized merge table
  * ([[Indexes.bpeMerges]]); its timed path is the pure map-expression
  * apply, the production shape (train once per corpus generation,
  * tokenize every batch).
  */
object BpeQueries {

  /** Declared merge count. 512 after the word-type trainer rework
    * (r11): training cost is one corpus pass + n VOCABULARY-sized
    * aggregates, so the dial scales toward real vocabularies —
    * training truncates its lineage every
    * [[graft.ops.Bpe.TruncateEvery]] merges so per-iteration work
    * stays constant, and the oracle's n MATERIALIZED CTE iterations
    * are emitted programmatically by [[trainingCtes]] for any n
    * (the history: 10 → 64 proved the unrolled chain, 64 → 512
    * proved the per-type cost model; the 32k extrapolation is in
    * ROUND11_NOTES). */
  val NMerges = 512

  /** q155's monitor prefix — rule k of greedy training depends only
    * on rules < k, so the first [[MonitorMerges]] entries of the
    * persisted [[NMerges]]-rule table ARE the table a
    * [[MonitorMerges]]-merge training would produce (BpeSpec pins
    * it), and the monitor trains nothing.
    *
    * The DOWNSTREAM consumers (q101 budget, q142 packing, q131
    * compression, q129 encode) are also pinned at this prefix, not at
    * [[NMerges]]: their oracles replay one MATERIALIZED CTE iteration
    * per rule, and at 512 rules each replay cost ~36 s — five of them
    * were 72 % of the whole suite's oracle ledger (r12 ORACLE_BUDGET).
    * The rule-application machinery is IDENTICAL at any cap (one
    * memoized per-partition pass over the same merge-table prefix;
    * BpeSpec pins trainer-path equivalence and prefix stability), so
    * q98 alone keeps the full 512-rule gate and the composition
    * queries gate their own logic — budget windows, packing layout,
    * fertility ratios, id assignment — at the cheap prefix with zero
    * coverage loss. */
  val MonitorMerges = 64

  /** Mirrors [[graft.ops.Bpe.wordArray]]'s normalization, NFC
    * canonicalization included (identity on this ASCII corpus; load-
    * bearing the moment a non-ASCII document arrives — see
    * [[graft.ops.TextAnalysis.normalizeNfc]]). */
  private[queries] val NormSql =
    "trim(regexp_replace(regexp_replace(lower(nfc_normalize(text)), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** The unrolled training CTE chain, ending in `w$n` (doc_id, j,
    * rep). `MATERIALIZED` is load-bearing: each `t{k}` is referenced
    * twice (pair counts and the next iteration), and without it
    * DuckDB's inlining doubles the plan per iteration — 2^10 blow-up,
    * ~30x slower measured. Shared by every trained-tokenizer oracle
    * (q98/q101/q129/q131/q142), so they cannot drift on the replay.
    *
    * Mirrors [[graft.ops.Bpe.trainMerges]]'s word-TYPE formulation:
    * `wi` is the word-instance frame (one pass), `t0..t$n` evolve
    * the type-frequency table with count-WEIGHTED pair sums
    * (identical totals to per-instance counting, hence an identical
    * merge table), and `w$n` rejoins the final type representations
    * to the instances — downstream CTEs see the same (doc_id, j,
    * rep) shape as ever. */
  private def trainingCtes(n: Int): String = {
    val parts = Seq(
      s"""wi AS MATERIALIZED (
         |  SELECT doc_id, j, words[CAST(j AS INT)] AS w
         |  FROM (SELECT doc_id, str_split($NormSql, ' ') AS words FROM documents),
         |       unnest(generate_series(1, len(words))) AS g(j)
         |  WHERE words[CAST(j AS INT)] <> ''),
         |t0 AS MATERIALIZED (
         |  SELECT w, count(*) AS n,
         |         regexp_replace(w, '(.)', '<\\1>', 'g') AS rep
         |  FROM wi GROUP BY w)""".stripMargin) ++
      (0 until n).map { k =>
        // LEFT JOIN, not a cross join: when the pair supply is
        // exhausted before iteration n (every word one symbol — a
        // narrow-vocabulary corpus), m$k is EMPTY, and a cross join
        // would empty the whole vocabulary from t${k+1} on while
        // Spark's trainMerges stops early with real counts. The
        // passthrough CASE mirrors the early stop exactly: no rule →
        // rep unchanged.
        s"""p$k AS (
           |  SELECT syms[CAST(i AS INT)] AS a, syms[CAST(i AS INT)+1] AS b, sum(n) AS c
           |  FROM (SELECT n, str_split(trim(rep, '<>'), '><') AS syms FROM t$k),
           |       unnest(generate_series(1, len(syms)-1)) AS g(i)
           |  GROUP BY 1, 2),
           |m$k AS (SELECT a, b FROM p$k ORDER BY c DESC, a, b LIMIT 1),
           |t${k + 1} AS MATERIALIZED (
           |  SELECT t.w, t.n,
           |         CASE WHEN m.a IS NULL THEN t.rep
           |              ELSE replace(t.rep, '<'||m.a||'><'||m.b||'>', '<'||m.a||m.b||'>') END AS rep
           |  FROM t$k t LEFT JOIN m$k m ON TRUE)""".stripMargin
      } ++ Seq(
      s"""w$n AS MATERIALIZED (
         |  SELECT wi.doc_id, wi.j, t.rep FROM wi JOIN t$n t ON t.w = wi.w)""".stripMargin)
    parts.mkString(",\n")
  }

  /** Per-doc trained token counts from the final `w$n` generation,
    * joined back to `documents` (word-free docs count 0). */
  private def countCte(n: Int): String =
    s"""bt AS (SELECT d.doc_id, d.source,
       |         CAST(coalesce(t.bpe_tokens, 0) AS BIGINT) AS n_tok
       |       FROM documents d LEFT JOIN (
       |         SELECT doc_id,
       |                sum(len(str_split(trim(rep, '<>'), '><'))) AS bpe_tokens
       |         FROM w$n GROUP BY doc_id) t ON d.doc_id = t.doc_id)""".stripMargin

  private def oracleSql(n: Int): String =
    s"""WITH ${trainingCtes(n)}
       |SELECT d.doc_id,
       |       CAST(coalesce(t.bpe_tokens, 0) AS BIGINT) AS bpe_tokens,
       |       coalesce(t.bpe_text, '') AS bpe_text
       |FROM documents d LEFT JOIN (
       |  SELECT doc_id,
       |         sum(len(str_split(trim(rep, '<>'), '><'))) AS bpe_tokens,
       |         string_agg(rep, ' ' ORDER BY j) AS bpe_text
       |  FROM w$n GROUP BY doc_id) t ON d.doc_id = t.doc_id""".stripMargin

  /** q101 budgets (trained-token units — roughly normalized chars
    * minus merges, so ~5-7k per sf0.01 source): a mixed selection per
    * stratum, with boundary docs provably dropped. */
  private val Budgets = Map("src0" -> 2000L, "src1" -> 5000L)
  private val DefaultBudget = 3500L

  /** q63's budget mixing driven by TRAINED counts: the same unrolled
    * training chain feeds a per-source hash-ordered prefix sum (the
    * `Sampling.tokenBudget` contract — md5-derived sample key, ROWS
    * frame, hard caps). */
  private def budgetOracleSql(n: Int): String =
    s"""WITH ${trainingCtes(n)},
       |${countCte(n)},
       |c AS (SELECT doc_id, source, n_tok,
       |        CAST(sum(n_tok) OVER (PARTITION BY source
       |          ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000, doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
       |      FROM bt)
       |SELECT doc_id, source, n_tok, cum_tok FROM c
       |WHERE cum_tok <= (CASE source WHEN 'src0' THEN ${Budgets("src0")}
       |                              WHEN 'src1' THEN ${Budgets("src1")}
       |                              ELSE $DefaultBudget END)""".stripMargin

  /** `documents` projected to `cols` + the merged-representation
    * array `__reps` (the [[graft.ops.Bpe.withMergedReps]]
    * per-partition apply over the memoized merge table) — the shared
    * tokenize stage of every trained-tokenizer query. */
  private def tokenized(s: org.apache.spark.sql.SparkSession, d: String,
                        nRules: Int, cols: String*): org.apache.spark.sql.DataFrame =
    graft.ops.Bpe.withMergedReps(
      Indexes.bpeWords(s, d).select(cols.map(col) :+ col("__ws"): _*),
      // Prefix of the persisted full-rule table (prefix-stable) — the
      // consumers pinned at MonitorMerges never train a second table.
      "__ws", Indexes.bpeMerges(s, d, NMerges).take(nRules), "__reps",
      dropInput = true)

  /** Trained token count of a `__reps` row — expression space. */
  private def trainedTokens =
    aggregate(col("__reps"), lit(0L), (acc, r) => acc + size(Bpe.symbols(r)))

  val all: Seq[Q] = Seq(

    // Trained-BPE tokenization: per document, the merged symbol count
    // (the REAL token budget) and the full merged representation (so
    // the oracle pins every rule application, not just the count).
    Q("q98_bpe_tokenize", oracleSql(NMerges)) {
      (s, d) =>
        val merges = Indexes.bpeMerges(s, d, NMerges)
        Bpe.withMergedReps(
            Indexes.bpeWords(s, d).select(col("doc_id"), col("__ws").as("words")),
            "words", merges, "reps", dropInput = true)
          .select(col("doc_id"),
            aggregate(col("reps"), lit(0L),
              (acc, r) => acc + size(Bpe.symbols(r))).as("bpe_tokens"),
            array_join(col("reps"), " ").as("bpe_text"))
    },

    // Trained-BPE counts composed into the token-budget mixing
    // operator (q63's shape) in ONE lineage: train → count → budget.
    // A real curation pipeline budgets with the tokenizer it trains —
    // q63 demonstrates the operator with the documented regex
    // approximation; this is the production composition. The oracle
    // replays the full unrolled training chain AND the hash-ordered
    // prefix-sum selection, so a drift in either half fails the row.
    // Scale shape: training is memoized per corpus generation
    // (bounded metadata); the count is a pure map expression; the
    // budget is one prefix-sum window per stratum — the whole lineage
    // adds ONE shuffle on `source` over the tokenize pass.
    Q("q101_bpe_token_budget", budgetOracleSql(MonitorMerges)) {
      (s, d) =>
        graft.ops.Sampling.tokenBudget(
          tokenized(s, d, MonitorMerges, "doc_id", "source"),
          "source", "doc_id", trainedTokens,
          budgets = Budgets, defaultBudget = DefaultBudget)
          .select("doc_id", "source", "n_tok", "cum_tok")
    },

    // Sequence packing under the TRAINED tokenizer — q62's contiguous
    // layout with the token counter swapped for the real thing (the
    // drop-in q62's docs promise, demonstrated end-to-end like q101
    // did for budgets): train → count → pack in ONE lineage. Packing
    // positions move wherever trained counts differ from the regex
    // demo's, so the oracle replays the 64-merge training chain AND
    // the per-source prefix sums. Scale shape unchanged from q62: the
    // count is a pure map expression over the memoized merge table,
    // the layout is one prefix-sum window per source shard.
    Q("q142_bpe_packing", {
      val n = MonitorMerges
      s"""WITH ${trainingCtes(n)},
         |${countCte(n)},
         |c AS (SELECT doc_id, source, n_tok,
         |        sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
         |      FROM bt)
         |SELECT doc_id, source, n_tok,
         |       CAST(start_off // 256 AS BIGINT) AS seq_id,
         |       CAST(start_off % 256 AS BIGINT) AS seq_off
         |FROM c""".stripMargin
    }) {
      (s, d) =>
        graft.ops.Packing.packSequences(
          tokenized(s, d, MonitorMerges, "doc_id", "source"),
          "source", "doc_id", trainedTokens, capacity = 256)
          .select("doc_id", "source", "n_tok", "seq_id", "seq_off")
    },

    // Token-ID encoding — the trainer-facing end of the tokenizer
    // chain (train → tokenize → budget → ENCODE): each document's
    // merged symbol stream mapped to integer ids from a deterministic
    // vocabulary (distinct final symbols, numbered in string order —
    // independent of counts, so any engine numbers identically). The
    // vocabulary is BOUNDED BY CONSTRUCTION: a symbol is either a
    // base character or the product of one of the NMerges rules, so
    // |V| ≤ 36 + NMerges — a one-time bounded collect (the
    // k-means-centroid discipline) broadcast as a literal map; the
    // encode itself is a pure codegen map pass, no shuffle, no UDF.
    // The oracle replays the full training chain, numbers the same
    // vocabulary with row_number over the same order, and reassembles
    // every id sequence in (word, symbol) order.
    // Tokenizer fertility audit: chars-per-token per language under
    // the trained tokenizer — THE metric a tokenizer is judged by
    // (low compression on a language means its text pays more tokens
    // per information unit: inflated training cost and effective
    // context truncation; multilingual pipelines rebalance or retrain
    // on this number). Normalized chars are invariant under merges
    // (each rule only fuses symbols), so the ratio needs just the
    // trained symbol counts — one tokenize map pass over the corpus +
    // one bounded per-language aggregate; the merge table is the
    // memoized index. Integer milli-ratio, ties to the oracle's replay
    // of the full training chain.
    Q("q131_bpe_compression", {
      val n = MonitorMerges
      s"""WITH ${trainingCtes(n)},
         |pt AS (SELECT doc_id,
         |         sum(len(str_split(trim(rep, '<>'), '><'))) AS toks,
         |         sum(length(replace(replace(rep, '<', ''), '>', ''))) AS chars
         |       FROM w$n GROUP BY doc_id)
         |SELECT d.lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(coalesce(sum(pt.chars), 0) AS BIGINT) AS n_chars,
         |       CAST(coalesce(sum(pt.toks), 0) AS BIGINT) AS n_bpe_tokens,
         |       CAST(CASE WHEN coalesce(sum(pt.toks), 0) = 0 THEN 0
         |            ELSE (sum(pt.chars) * 1000) // sum(pt.toks) END AS BIGINT)
         |         AS chars_per_token_milli
         |FROM documents d LEFT JOIN pt ON pt.doc_id = d.doc_id
         |GROUP BY d.lang""".stripMargin
    }) {
      (s, d) =>
        // chars is computed from the persisted word arrays BEFORE the
        // per-partition apply pass — the full text never re-normalizes
        // and never crosses the object boundary.
        val per = graft.ops.Bpe.withMergedReps(
            Indexes.bpeWords(s, d).select(col("lang"),
              aggregate(col("__ws"),
                lit(0L), (acc, w) => acc + length(w)).as("chars"),
              col("__ws")),
            "__ws", Indexes.bpeMerges(s, d, NMerges).take(MonitorMerges),
            "__reps", dropInput = true)
          .select(col("lang"), trainedTokens.as("toks"), col("chars"))
        per.groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum(col("chars")).as("n_chars"),
            sum(col("toks")).as("n_bpe_tokens"))
          .select(col("lang"), col("n_docs"), col("n_chars"),
            col("n_bpe_tokens"),
            when(col("n_bpe_tokens") === 0, lit(0L))
              .otherwise(expr("(n_chars * 1000) div n_bpe_tokens"))
              .as("chars_per_token_milli"))
    },

    Q("q129_bpe_encode_ids", {
      val n = MonitorMerges
      s"""WITH ${trainingCtes(n)},
         |vocab AS (SELECT sym,
         |            CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT) AS tid
         |          FROM (SELECT DISTINCT unnest(str_split(trim(rep, '<>'), '><')) AS sym
         |                FROM w$n)),
         |sx AS (SELECT doc_id, j, i, syms[CAST(i AS INT)] AS sym
         |       FROM (SELECT doc_id, j, str_split(trim(rep, '<>'), '><') AS syms
         |             FROM w$n),
         |            unnest(generate_series(1, len(syms))) AS g(i)),
         |ids AS (SELECT sx.doc_id,
         |          CAST(count(*) AS BIGINT) AS n_tok,
         |          string_agg(CAST(v.tid AS VARCHAR), ' ' ORDER BY sx.j, sx.i) AS id_seq
         |        FROM sx JOIN vocab v ON v.sym = sx.sym GROUP BY sx.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(ids.n_tok, 0) AS BIGINT) AS n_tok,
         |       coalesce(ids.id_seq, '') AS id_seq
         |FROM documents d LEFT JOIN ids ON ids.doc_id = d.doc_id""".stripMargin
    }) {
      (s, d) =>
        val merges = Indexes.bpeMerges(s, d, NMerges).take(MonitorMerges)
        // Bounded vocabulary collect (|V| ≤ alphabet + MonitorMerges)
        // off the persisted vocab table — the corpus-wide distinct that
        // used to re-normalize 27 M words per query lives in the index
        // build.
        val idOf = Indexes.bpeVocab(s, d, MonitorMerges).collect()
          .map(r => (r.getString(0), r.getLong(1))).toMap
        // Encode straight to ids in the memoized per-partition pass —
        // the id string is computed once per word TYPE, and the word
        // arrays come pre-normalized from the persisted index.
        graft.ops.Bpe.withEncodedIds(
          Indexes.bpeWords(s, d).select(col("doc_id"), col("__ws")),
          "__ws", merges, idOf, "n_tok", "id_seq")
    },

    // TOKENIZER DRIFT monitor — the retrain signal: fertility
    // (merged symbols per word, milli) of an INCOMING batch (the
    // last 20 % of the id space, the q43/q108 watermark convention)
    // under the trained merge table, against the trained cohort's
    // baseline. A vocabulary that stops fitting the data shows up
    // exactly here — new-domain words stay unmerged and fertility
    // climbs — BEFORE it shows up as a training-cost overrun.
    // Monitored under the FIRST [[MonitorMerges]] rules of the
    // PERSISTED table: greedy training is prefix-stable (rule k
    // depends only on rules < k), so the prefix is free — no second
    // training — and a shallow prefix keeps the metric SENSITIVE
    // (under all 512 rules this corpus's vocabulary merges fully and
    // fertility floors at 1000 for every cohort — measured, useless
    // as a monitor). Integer throughout: drift is a scaled ratio
    // minus 10⁶, so no signed division (DuckDB floors, Spark
    // truncates negative numerators — a hazard avoided instead of
    // mirrored). Scale bill: one tokenize map pass + a 2-row
    // aggregate.
    Q("q155_tokenizer_drift", {
      val n = MonitorMerges
      s"""WITH ${trainingCtes(n)},
         |cut AS (SELECT (max(doc_id) * 4) // 5 AS c FROM documents),
         |sym AS (SELECT doc_id, len(str_split(trim(rep, '<>'), '><')) AS ns FROM w$n),
         |coh AS (SELECT CASE WHEN s.doc_id >= cut.c THEN 'incoming' ELSE 'trained' END AS cohort,
         |          count(*) AS n_words, sum(ns) AS n_symbols
         |        FROM sym s CROSS JOIN cut GROUP BY 1),
         |base AS (SELECT (n_symbols * 1000) // n_words AS spw0
         |         FROM coh WHERE cohort = 'trained')
         |SELECT cohort, CAST(n_words AS BIGINT) AS n_words,
         |       CAST(n_symbols AS BIGINT) AS n_symbols,
         |       CAST((n_symbols * 1000) // n_words AS BIGINT) AS spw_milli,
         |       CAST((((n_symbols * 1000) // n_words) * 1000000) // spw0
         |            - 1000000 AS BIGINT) AS drift_ppm
         |FROM coh CROSS JOIN base""".stripMargin
    }) {
      (s, d) =>
        val mx = table(s, d, "documents")
          .agg(max(col("doc_id"))).head().getLong(0)
        val cutoff = mx * 4 / 5
        // Prefix of the persisted 512-rule table (prefix-stable).
        val merges = Indexes.bpeMerges(s, d, NMerges).take(MonitorMerges)
        val coh = graft.ops.Bpe.withMergedReps(
            Indexes.bpeWords(s, d).select(col("doc_id"), col("__ws")),
            "__ws", merges, "__reps", dropInput = true)
          .select(
            when(col("doc_id") >= cutoff, "incoming")
              .otherwise("trained").as("cohort"),
            size(col("__reps")).cast("long").as("nw"),
            trainedTokens.as("ns"))
          .groupBy("cohort")
          .agg(sum(col("nw")).as("n_words"), sum(col("ns")).as("n_symbols"))
        val base = coh.filter(col("cohort") === "trained")
          .select(expr("(n_symbols * 1000) div n_words").as("spw0"))
        coh.crossJoin(broadcast(base))
          .select(col("cohort"), col("n_words"), col("n_symbols"),
            expr("(n_symbols * 1000) div n_words").as("spw_milli"),
            (expr("(((n_symbols * 1000) div n_words) * 1000000) div spw0")
              - 1000000L).as("drift_ppm"))
    },

    // INCREMENTAL tokenizer-vocabulary maintenance — the last
    // non-incremental family's incremental leg (q43/q108/q205's
    // batch×corpus discipline applied to training): word-type counts
    // are ADDITIVE, so when a batch arrives (last 20 % of the id
    // space, the q155 watermark convention) the persisted type table
    // folds the batch's counts in with one counts-sum — the old
    // corpus text is NEVER re-scanned — and the greedy trainer reruns
    // over the folded table ([[graft.ops.Bpe.trainMergesFromTypes]]).
    // The output merge table must be INDISTINGUISHABLE from training
    // on the whole corpus from scratch (the q205 "recomputing the
    // world" discipline): the oracle replays the full-corpus unrolled
    // training chain and the rule list must match rule-for-rule.
    // BpeSpec pins the fold itself (fold ≡ rebuild of the type
    // table). Operationally the retrain is gated on q155: fold every
    // batch (cheap — one batch tokenize + a counts-sum), retrain only
    // when |drift_ppm| crosses the deployment's threshold; the
    // retrain leg is what this row gates. Scale bill: one batch-sized
    // tokenize pass + a vocabulary-sized sum + the in-memory greedy
    // loop over bounded type metadata.
    Q("q210_bpe_vocab_incremental", {
      val n = MonitorMerges
      s"""WITH ${trainingCtes(n)}
         |${(0 until n).map(k =>
        s"SELECT CAST($k AS BIGINT) AS rule_idx, a, b FROM m$k")
        .mkString("\nUNION ALL\n")}""".stripMargin
    }) {
      (s, d) =>
        val words = Indexes.bpeWords(s, d).select(col("doc_id"), col("__ws"))
        val mx = words.agg(max(col("doc_id"))).head().getLong(0)
        val cut = mx * 4 / 5
        def typesOf(df: org.apache.spark.sql.DataFrame) =
          df.select(explode(col("__ws")).as("w"))
            .groupBy("w").agg(count(lit(1)).as("n"))
        // The persisted corpus type table (recomputed from the same
        // word index here so the row is self-contained — the q205
        // convention) + the incoming batch's counts, folded.
        val folded = typesOf(words.filter(col("doc_id") < cut))
          .unionByName(typesOf(words.filter(col("doc_id") >= cut)))
          .groupBy("w").agg(sum(col("n")).as("n"))
        val rules = Bpe.trainMergesFromTypes(folded, MonitorMerges)
        import s.implicits._
        rules.zipWithIndex
          .map { case ((a, b), i) => (i.toLong, a, b) }
          .toDF("rule_idx", "a", "b")
    }
  )
}
