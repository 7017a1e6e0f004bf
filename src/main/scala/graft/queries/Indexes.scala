package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.TableStore
import graft.ops.{Dedup, Multimodal, Similarity}

/** PERSISTENT registry of MATERIALIZED corpus indexes — the
  * production table-flow behind the near-dup query family.
  *
  * The md5→shingle→minhash pipeline is the dominant scan of every
  * near-dup operator; at 100 TB it is the job cost. Production runs
  * it ONCE per corpus generation, lands the result as tables
  * ([[Dedup.shingleFrame]] / [[Dedup.signaturesFromHashes]] through
  * the [[TableStore]] sink layer), and every candidate / verify /
  * cluster / decontamination query READS those tables. Executor
  * `cache()` is the wrong tool for that flow: it memoizes within one
  * job, silently recomputes the corpus scan on eviction, and shares
  * nothing across queries.
  *
  * This registry gives the declared query set the same discipline:
  * the first consumer of a corpus builds its indexes (one corpus
  * pass), the tables OUTLIVE the process — a versioned corpus keeps
  * them co-located under `<corpus>/_indexes`, a raw corpus under a
  * stable shared root — so a second process (or a restarted cluster)
  * REUSES the build instead of re-scanning the corpus, and every
  * query using them produces results BIT-IDENTICAL to the inline
  * pipeline — signatures are deterministic and parquet round-trips
  * bigint arrays exactly (pinned by q70's oracle, DedupSpec's
  * round-trip test, and IndexesSpec's cold-rebuild case).
  *
  * One entry point: every accessor that lands one frame under one
  * table name is a call to [[index]], which takes the build lock,
  * resolves the corpus's namespace ([[store]]) and memoizes the frame
  * through [[cached]]. Three builds call [[cached]] themselves: the
  * winnow index (it lands a positional scratch table before its final
  * one) and the driver-side PQ codebooks and BPE merge table, whose
  * process-local caches are keyed by the same namespace.
  *
  * Cross-process safety: a build lands in a dot-prefixed scratch
  * namespace and publishes with ONE atomic directory rename, so a
  * published table is always complete (it carries its `_SUCCESS`
  * marker before the rename); two processes racing the same build
  * both succeed — the rename loser discards its scratch and reads
  * the winner. Staleness safety: raw corpora are namespace-keyed by
  * a parquet-listing fingerprint (file names, lengths, mtimes), so a
  * regenerated dataset at the same path can never be served indexes
  * of the bytes it replaced.
  *
  * Index namespaces are keyed by the corpus GENERATION
  * ([[corpusEpoch]]): recommitting a versioned corpus moves its
  * derived indexes to a fresh namespace, so a long-lived process can
  * never serve indexes of a superseded generation (IndexesSpec pins
  * the rebuild).
  */
object Indexes {

  /** Registry FORMAT version — part of every namespace path, so an
    * incompatible index-schema change (bump this when making one) can
    * never be served from a registry written by older code. */
  private val FormatVersion = 1

  /** Shared registry root for RAW (non-TableStore) corpora, read per
    * call so tests can repoint it. Stable across processes by design —
    * persistence is the point; in production this is a durable store
    * path next to the data lake. */
  private def sharedRoot: String =
    sys.props.getOrElse("graft.index.root",
      s"${System.getProperty("java.io.tmpdir")}/graft_index_registry")

  /** Builds serialize on one lock (a build is a full corpus pass —
    * two concurrent suites must not race it); the monitor is
    * reentrant, so derived builds can call base builds inside it. */
  private val lock = new Object

  /** The corpus's index EPOCH. A corpus addressed by an immutable raw
    * directory (the harness testdata) is epoch 0 forever. A corpus
    * that is a [[TableStore]]-versioned `documents` table (root =
    * `sfDir`) reports its live generation — so a corpus RECOMMIT
    * moves every derived index to a fresh namespace, and the first
    * reader after the commit rebuilds instead of a long-lived process
    * silently serving indexes of a superseded generation. */
  def corpusEpoch(spark: SparkSession, sfDir: String): Long = {
    val st = new TableStore(spark, sfDir)
    if (st.exists("documents")) st.liveGeneration("documents").getOrElse(0L)
    else 0L
  }

  /** The corpus `documents` frame the builders scan: the live
    * generation for a versioned corpus, the raw parquet file for the
    * harness layout — rebalanced either way (single-file local inputs
    * must not serialize the build onto one core). */
  private def corpusDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val st = new TableStore(spark, sfDir)
    if (st.exists("documents"))
      graft.io.Sources.rebalance(spark, st.readVersioned("documents"))
    else graft.io.Sources.tableRebalanced(spark, sfDir, "documents")
  }

  /** Parquet-listing fingerprint of a RAW corpus directory: names,
    * lengths, and mtimes of the top-level `*.parquet` entries. Cheap
    * (one directory listing, no data read) and changes whenever the
    * dataset is regenerated in place — the raw-layout analogue of a
    * versioned corpus's generation number. */
  private def rawFingerprint(spark: SparkSession, sfDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(sfDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .sorted
    java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.orderedHash(entries).toLong & 0xffffffffL)
  }

  /** The corpus's index NAMESPACE as a store; its `root` is also the
    * key of the process-local driver-side caches, so they turn over
    * exactly when the persisted tables do. */
  private def store(spark: SparkSession, sfDir: String): TableStore = {
    val corpus = new TableStore(spark, sfDir)
    val base =
      if (corpus.exists("documents") && corpus.liveGeneration("documents").isDefined)
        // Versioned corpus: co-locate with the data, namespace = the
        // live generation (a recommit moves indexes to a fresh epoch).
        s"$sfDir/_indexes/v$FormatVersion/e${corpusEpoch(spark, sfDir)}"
      else {
        // Raw corpus (possibly read-only): shared registry root,
        // namespace = path key + content fingerprint.
        val key = Integer.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(sfDir))
        s"$sharedRoot/v$FormatVersion/$key/f${rawFingerprint(spark, sfDir)}"
      }
    new TableStore(spark, base)
  }

  /** Cross-process-safe memoized build: a COMPLETE published table
    * (its `_SUCCESS` marker present — guaranteed by publish order) is
    * reused as-is; otherwise `build` writes `name` into a
    * process-unique dot-prefixed scratch store and the result is
    * published with one atomic rename. Losing the rename race to a
    * concurrent process is fine: the winner's table is complete by
    * the same invariant, so the loser discards its scratch and reads
    * the winner. */
  private def cached(spark: SparkSession, st: TableStore, name: String)
                    (build: TableStore => Unit): DataFrame = {
    import org.apache.hadoop.fs.Path
    val dst = new Path(st.path(name))
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def complete = fs.exists(new Path(dst, "_SUCCESS"))
    if (!complete) {
      val scratchRoot = st.path(s".build_${java.util.UUID.randomUUID}")
      try {
        // Build-cost ledger: every cold build logs its wall time to
        // stderr, so a cold-registry bench's log IS the per-index
        // ledger (which builds dominate registry warm-up, and whether
        // growth round-over-round is new coverage or a regression).
        val b0 = System.nanoTime()
        build(new TableStore(spark, scratchRoot))
        System.err.println(
          f"[index-build] $name ${(System.nanoTime() - b0) / 1e9}%.2fs")
        fs.mkdirs(dst.getParent): Unit
        // Renaming onto an EXISTING directory is never the publish:
        // both the HDFS contract and the local-FS fallback move the
        // source INSIDE it (and report success), nesting duplicate
        // part files that Spark's recursive listing reads as doubled
        // rows. So: a dst missing `_SUCCESS` is a crashed process's
        // partial — remove the garbage; a dst WITH `_SUCCESS` is a
        // concurrent winner's complete publish — keep it and skip the
        // rename entirely (lost race, reuse the winner). The
        // completeness re-check sits INSIDE the delete condition to
        // narrow (not eliminate — plain filesystems give no
        // compare-and-swap) the window where a winner publishing
        // between the two exists() calls could lose its table; full
        // atomicity at a multi-writer shared root needs a lock file
        // or a conditional-put object store, and the `require` below
        // converts any remaining interleaving into a loud failure
        // instead of a silent wrong read.
        if (fs.exists(dst) && !complete) fs.delete(dst, true): Unit
        if (!fs.exists(dst) &&
            fs.rename(new Path(s"$scratchRoot/$name"), dst)) {
          // The rename itself can still lose a photo-finish race: a
          // winner publishing in the window since the exists() check
          // makes OUR rename nest the scratch table at dst/<name>.
          // Detect by its own `_SUCCESS` (a legitimate table never
          // holds a same-named complete sub-table) and remove it —
          // the winner's publish stays intact.
          val nested = new Path(dst, name)
          if (fs.exists(new Path(nested, "_SUCCESS"))) fs.delete(nested, true): Unit
        }
        // Whatever path was taken — our publish, a winner's, or a
        // rejected rename — a complete table must now be present.
        require(complete,
          s"index publish failed for $name: no complete table present")
      } finally
        fs.delete(new Path(scratchRoot), true): Unit
    }
    st.read(name)
  }

  /** The registry's one entry point for a single-table index: under
    * the build lock, `build` is landed as table `name` in the corpus's
    * namespace by [[cached]] — evaluated only when no complete
    * published table exists. Parameter-dependent indexes carry their
    * parameters in `name`: a cached build must never be served to a
    * caller who asked for a different threshold, window or radius. */
  private def index(spark: SparkSession, sfDir: String, name: String)
                   (build: => DataFrame): DataFrame = lock.synchronized {
    cached(spark, store(spark, sfDir), name)(_.overwrite(name, build))
  }

  /** The corpus shingle index: one (doc_id, source, `__hs`) row per
    * document of `sfDir`'s `documents` table (docs under 3 tokens
    * drop — no shingles, no signal). */
  def shingles(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "doc_shingles") {
      Dedup.shingleFrame(corpusDocs(spark, sfDir), "doc_id", "text",
        extraCols = Seq("source"))
    }

  /** The per-SOURCE shingle TYPE table: distinct (g = source, w =
    * 3-token shingle STRING) pairs — the key universe of the KMV
    * set-algebra family (q214/q215). Persisted because its consumers
    * reference it from several plan branches (sketch build, exact
    * distinct counts, BOTH sides of the exact-overlap self join) and
    * Spark does not common-subexpression identical subtrees: inline,
    * each branch would re-run the corpus explode + distinct shuffle
    * — measured as q215's sf0.1 watchdog timeout; from the registry
    * each branch is a parquet column scan. Distinct from [[shingles]]
    * (per-DOC hash arrays): this is string-keyed and source-keyed,
    * what cross-engine 52-bit re-hashing and exact truth both need. */
  def sourceShingles(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "source_shingles") {
      graft.io.Sources.table(spark, sfDir, "documents")
        .select(col("source").as("g"),
          explode(Dedup.shingles(Dedup.tokens(col("text")))).as("w"))
        .distinct()
    }

  /** The normalized WORD-ARRAY index: one (doc_id, source, lang,
    * `__ws`) row per document — [[graft.ops.Bpe.wordArray]]'s
    * normalize+split+filter materialized once per corpus generation.
    * Measured motivation (sf10, ROUND12_NOTES.md): the regex
    * normalization alone is ~20 s of every ~24 s tokenizer pass —
    * the trained-merge apply machinery is ~0 s on top — and the BPE
    * family re-paid it per query (twice in q129). At 100 TB,
    * normalization is one linear pass over every byte; it belongs in
    * the registry next to [[shingles]], not in every consumer's
    * plan. */
  def bpeWords(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "bpe_words") {
      corpusDocs(spark, sfDir)
        .select(col("doc_id"), col("source"), col("lang"),
          graft.ops.Bpe.wordArray(col("text")).as("__ws"))
    }

  /** The trained vocabulary under the n-rule merge table: (sym, tid)
    * — the distinct symbols of the corpus's distinct-word set after
    * merging, id-assigned in sorted order (the q129 convention).
    * Bounded (|V| ≤ alphabet + n); derived FROM [[bpeWords]] so the
    * derivation never re-normalizes the corpus. */
  def bpeVocab(spark: SparkSession, sfDir: String, n: Int): DataFrame =
    index(spark, sfDir, s"bpe_vocab_n$n") {
      val merges = bpeMerges(spark, sfDir, n)
      // Bounded collect (|V| ≤ alphabet + n): sorted id assignment
      // happens driver-side — a partition-less row_number window
      // would be a single-partition WindowExec for no reason.
      val syms = graft.ops.Bpe.withMergedReps(
          bpeWords(spark, sfDir)
            .select(explode(col("__ws")).as("w")).distinct()
            .select(array(col("w")).as("__ws")),
          "__ws", merges, "__reps")
        .select(explode(graft.ops.Bpe.symbols(col("__reps")(0))).as("sym"))
        .distinct().orderBy("sym").collect().map(_.getString(0))
      import spark.implicits._
      syms.zipWithIndex.toSeq
        .map { case (s, i) => (s, i.toLong) }.toDF("sym", "tid")
    }

  /** The exact-duplicate set-collapse membership index: one (`__gid`,
    * doc_id, `__n`) row per document, `__gid` = the minimum doc id
    * sharing the document's exact shingle set
    * ([[graft.ops.Dedup.shingleSetMembers]]). The quadratic
    * containment stage runs over distinct sets only (sf10: 500k docs
    * → 129,792 groups → ~15× less self-join work); doc → `__gid` is
    * also the corpus's canonical-document map. Derived FROM the
    * persisted [[shingles]] index — the set groupBy is paid once per
    * corpus generation. */
  def containmentGroups(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "containment_groups") {
      Dedup.shingleSetMembers(shingles(spark, sfDir).drop("source"), "doc_id")
    }

  /** The distinct-set REPRESENTATIVE shingle rows (doc_id = the
    * group's `__gid`, `__hs`) — [[shingles]] semi-joined to
    * [[containmentGroups]]' gids at BUILD time, so the quadratic
    * containment stage scans one row per distinct set (sf10: 129,792
    * instead of 500k) and repeat consumers never pay the semi join. */
  def containmentReps(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "containment_reps") {
      val m = containmentGroups(spark, sfDir)
      shingles(spark, sfDir).drop("source").join(
        m.filter(col("__gid") === col("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_semi")
    }

  /** Containment threshold, in percent, of [[containmentPairs]]. */
  val ContainmentPct = 80

  /** Winnowing window of [[winnowedPrints]]. */
  val WinnowWindow = 8

  /** The collapsed containment PAIR table at [[ContainmentPct]]% —
    * (d1, d2, inter_cnt, n1, n2, c1_ppm, c2_ppm, d1_in_d2, d2_in_d1),
    * [[graft.ops.Dedup.containmentPairsCollapsed]] over
    * [[containmentGroups]]/[[containmentReps]], landed as a table.
    * The identical group-collapse + inverted-index self join +
    * member expansion subtree was recomputed verbatim by TWO
    * consumers (q134's pair report and q145's sub-document drop leg
    * — r16 measured 2.0 s of q134's 2.0 s and ~1 s of q145 at
    * sf0.1); both now read parquet. The name carries the threshold
    * (`containment_pairs_t80`), which is part of the pair set.
    * Contents are bit-identical to the inline pipeline by
    * construction: same persisted group/rep tables, same capped self
    * joins, exact integer set measures (IndexesSpec pins the landed
    * rows against the inline two-frame call on the fixture). */
  def containmentPairs(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, s"containment_pairs_t$ContainmentPct") {
      Dedup.containmentPairsCollapsed(containmentGroups(spark, sfDir),
        containmentReps(spark, sfDir), "doc_id", ContainmentPct)
    }

  /** The winnowed-fingerprint index: one (doc_id, `__fp`) row per
    * selected print per document, at window [[WinnowWindow]] (the
    * name, `winnow_prints_w8`, carries it). Built two-phase
    * ([[Dedup.buildWinnowIndex]]): positional hash arrays land as a
    * scratch table first so the window-min selection slices stored
    * arrays instead of re-evaluating the md5 lineage per position —
    * the r10 q146 DNF recipe, fixed. Every downstream reference
    * (df counts, pair joins) is a parquet read of ~2/(w+1) of the
    * shingle volume. */
  def winnowedPrints(spark: SparkSession, sfDir: String): DataFrame = lock.synchronized {
    val name = s"winnow_prints_w$WinnowWindow"
    cached(spark, store(spark, sfDir), name) { bst =>
      Dedup.buildWinnowIndex(bst, corpusDocs(spark, sfDir),
        "doc_id", "text", WinnowWindow, table = name): Unit
    }
  }

  /** The MinHash signature index (doc_id, `__hs`, mh0..mh{n-1}) —
    * derived FROM the persisted shingle index, so the md5 pass never
    * runs twice even at build time. */
  def signatures(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "minhash_sigs") {
      Dedup.signaturesFromHashes(shingles(spark, sfDir).drop("source"))
    }

  /** Per-doc SimHash fingerprints (doc_id, simhash) at `bits` width —
    * derived FROM the persisted shingle index (the vote aggregate is
    * pure compute over `__hs`). The byte/15-bit-band candidate joins
    * reference the fingerprints on BOTH sides; persisting means each
    * reference is a parquet read of one row per doc, and an executor
    * eviction can never silently re-run the vote aggregate. */
  def simhashFingerprints(spark: SparkSession, sfDir: String,
                          bits: Int): DataFrame = {
    require(bits == 32 || bits == 60, s"unsupported simhash width: $bits")
    index(spark, sfDir, s"simhash${bits}_fp") {
      val th = shingles(spark, sfDir)
        .select(col("doc_id"), explode(col("__hs")).as("h"))
      if (bits == 32) Dedup.simhash32(th, "doc_id", "h")
      else Dedup.simhashWide(th, "doc_id", "h", bits = bits)
    }
  }

  /** Parameter suffix for threshold-keyed table names: a cached build
    * must never be silently served to a caller who asked for a
    * DIFFERENT threshold/cutoff, so the parameters are part of the
    * table identity (permille keeps the name filesystem-safe). */
  private def permille(threshold: Double): Long = math.round(threshold * 1000)

  /** Scored MinHash candidate pairs (d1, d2, __inter, __union) — the
    * banded candidate self join over [[signatures]] WITH the exact
    * per-pair jaccard counts, landed as a table. The identical
    * subtree was recomputed verbatim by FOUR consumers (q31's pair
    * report, q93's calibration, q65's overlap rollup, and the
    * [[neardupEdges]] build — r16 measured 6.5–9.0 s sf10 each);
    * they now read parquet. Contents are bit-identical to the inline
    * pipeline by construction: same persisted signature table, same
    * capped candidate join, exact integer intersection/union counts
    * (the hs1/hs2 shingle arrays are NOT landed — no consumer reads
    * them, and per-pair set copies would dominate the table). */
  def minhashPairScores(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "minhash_pair_scores") {
      Dedup.scoredCandidatePairs(signatures(spark, sfDir), "doc_id")
        .select(col("d1"), col("d2"), col("__inter"), col("__union"))
    }

  /** Verified near-dup edges (d1, d2): [[minhashPairScores]] filtered
    * at `threshold` jaccard — the cluster family's edge set, landed
    * as a table keyed by its threshold (two callers with different
    * thresholds get independent builds, never each other's cache). */
  def neardupEdges(spark: SparkSession, sfDir: String,
                   threshold: Double): DataFrame =
    index(spark, sfDir, s"neardup_edges_t${permille(threshold)}") {
      minhashPairScores(spark, sfDir)
        .filter(col("__inter").cast("double") / col("__union") >= threshold)
        .select("d1", "d2")
    }

  /** Resolved cluster labels (id, component) — connected components
    * over [[neardupEdges]], landed as a table. THE production dedup
    * artifact: cluster-keyed splits, survivor selection, and overlap
    * analytics all join this table instead of re-running CC per query
    * (q57's oracle pins the persisted labels against the from-scratch
    * recursive closure). */
  def neardupLabels(spark: SparkSession, sfDir: String,
                    threshold: Double): DataFrame =
    index(spark, sfDir, s"neardup_labels_t${permille(threshold)}") {
      Dedup.connectedComponents(neardupEdges(spark, sfDir, threshold))
    }

  /** Yesterday's labels: components over only the edges whose BOTH
    * endpoints predate `cutoff` — the state an incremental maintenance
    * step starts from. In production this IS [[neardupLabels]] from
    * the previous corpus generation, already on disk; the declared
    * incremental query (q73) reads it and folds today's batch in with
    * [[Dedup.mergeComponents]], so its timed path is the incremental
    * step, not a re-run of history. */
  def neardupLabelsBase(spark: SparkSession, sfDir: String,
                        threshold: Double, cutoff: Long): DataFrame =
    index(spark, sfDir, s"neardup_labels_base_t${permille(threshold)}_c$cutoff") {
      Dedup.connectedComponents(neardupEdges(spark, sfDir, threshold)
        .filter(col("d1") < cutoff && col("d2") < cutoff))
    }

  /** Per-shingle first-occurrence origins of the ESTABLISHED corpus
    * (doc_id < `cutoff`): (h, odoc, vsrc) — the citation-attribution
    * index the incremental domain-rank flow (q139) probes per batch.
    * Derived FROM the persisted [[shingles]] index (parquet read, no
    * re-shingling); cutoff is part of the table identity. */
  def shingleOrigins(spark: SparkSession, sfDir: String,
                     cutoff: Long): DataFrame =
    index(spark, sfDir, s"shingle_origins_c$cutoff") {
      val ex = shingles(spark, sfDir)
        .filter(col("doc_id") < cutoff)
        .select(col("doc_id"), explode(col("__hs")).as("h"))
      ex.groupBy("h").agg(min(col("doc_id")).as("odoc"))
        .join(corpusDocs(spark, sfDir)
          .select(col("doc_id").as("odoc"), col("source").as("vsrc")),
          Seq("odoc"))
        .select("h", "odoc", "vsrc")
    }

  /** The ESTABLISHED corpus's source→source citation edges (u, v, w)
    * at `cutoff` — carriers below the cutoff attributed against
    * [[shingleOrigins]], pre-aggregated: the standing edge table an
    * incremental re-rank unions its per-batch deltas into. */
  def domainEdges(spark: SparkSession, sfDir: String,
                  cutoff: Long): DataFrame =
    index(spark, sfDir, s"domain_edges_c$cutoff") {
      val ex = shingles(spark, sfDir)
        .filter(col("doc_id") < cutoff)
        .select(col("doc_id"), col("source"), explode(col("__hs")).as("h"))
      graft.ops.Skew.saltedJoinHot(ex,
          shingleOrigins(spark, sfDir, cutoff).select("h", "vsrc"), "h",
          saltBy = col("doc_id"), salts = 16,
          hotCap = Dedup.DefaultHotShingleCap)
        .filter(col("source") =!= col("vsrc"))
        .select(col("source").as("u"), col("vsrc").as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("w"))
    }

  /** Per-doc term frequencies (doc_id, w, tf) — ONE tokenize pass over
    * the corpus, landed as a table; document frequency and TF-IDF
    * scoring derive from it without re-running the explode. */
  def termFrequencies(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "doc_tf") {
      corpusDocs(spark, sfDir)
        .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    }

  /** Per-doc bigram frequencies (doc_id, bg, tf — `bg` = the two
    * whitespace tokens joined by one space) — the order-2 sibling of
    * [[termFrequencies]]: ONE tokenize+pair pass over the corpus
    * (adjacent pairs via `zip_with` over two slices — a pure array
    * expression, no extra explode), landed as a table. Corpus bigram
    * counts (the n-gram LM every bigram consumer scores against)
    * derive from it with one `sum`, never a re-scan (q111). */
  def bigramFrequencies(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "doc_bigrams") {
      val ws = Dedup.tokens(col("text"))
      val pairs = zip_with(
        slice(ws, lit(1), size(ws) - 1),
        slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat_ws(" ", a, b))
      corpusDocs(spark, sfDir)
        .select(col("doc_id"), explode(pairs).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
    }

  /** Per-document bigram-LM score aggregate (doc_id, n_bigrams,
    * lm_score) over the corpus bigram model: n_bigrams = sum(tf),
    * lm_score = sum(bits(corpus-count)·tf) — the q111 integer
    * formulation. The identical subtree (corpus count aggregate +
    * salted bigram-dim join + per-doc fold over the whole
    * [[bigramFrequencies]] table) was recomputed verbatim by THREE
    * consumers — q111's score report and the CCNet chain shared by
    * q133/q145 (r16 measured 6.1/14.1/16.8 s sf10) — so it lands as
    * a 3-column/doc table and they read parquet. Values are exact
    * integer sums, bit-identical to the inline aggregate. */
  def docLmScores(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "doc_lm_scores") {
      val bf = bigramFrequencies(spark, sfDir)
      val cnt = bf.groupBy("bg").agg(sum(col("tf")).as("c"))
      // Blanket salt kept (hot-key variant measured slower on the
      // bigram dim — LmScore.bigramNll's note).
      graft.ops.Skew.saltedJoin(bf, cnt, "bg",
          saltBy = col("doc_id"), salts = 16)
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_bigrams"),
          sum(length(bin(col("c"))).cast("long") * col("tf"))
            .as("lm_score"))
    }

  /** Hashed bigram feature buckets (doc_id, b, tf) — the bigram index
    * with each bigram's portable 64-bit hash folded into 4096 feature
    * buckets (the DSIR/hashed-ngram feature space, q162). Landing it
    * keeps the md5 bucket hash out of every consumer's per-query plan
    * (the bpe_words discipline): consumers scan a 3-column skinny
    * table instead of re-hashing the corpus's bigrams. Rows are NOT
    * collapsed per (doc, bucket) — every downstream use is a
    * collapse-invariant sum, and the collapse would be a corpus-sized
    * shuffle in the build buying nothing. */
  def bigramBuckets(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "bigram_buckets") {
      bigramFrequencies(spark, sfDir).select(col("doc_id"),
        pmod(graft.functions.Functions.portableHash64(col("bg")),
          lit(4096L)).as("b"),
        col("tf"))
    }

  /** Per-document token counts (doc_id, source, n_tok — plain
    * whitespace split, the q36/q164 definition) as a persisted index:
    * every budget/allocation consumer reads 16 bytes/doc instead of
    * re-splitting the raw text column (the bpe_words discipline —
    * token counts are computed once at ingest, not once per analysis
    * query). The count is exact and engine-portable (split on a
    * single space, no normalization), so oracles recomputing
    * `len(string_split(text, ' '))` from the raw table match
    * bit-for-bit. */
  def docTokens(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "doc_tokens") {
      corpusDocs(spark, sfDir).select(col("doc_id"), col("source"),
        size(Dedup.tokens(col("text"))).cast("bigint").as("n_tok"))
    }

  /** Trained k-means cell assignments (vec_id, cid, dist) over the
    * `embeddings` table (k=8, 2 Lloyd iterations — the declared
    * codebook config). Training is deterministic scaled-integer math,
    * so the persisted assignment is bit-identical to an inline fit
    * (q68's oracle pins it); SemDeDup blocking joins this table
    * instead of retraining per query. */
  def kmeansCells(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "kmeans_cells") {
      Similarity.kmeansFit(
        graft.io.Sources.table(spark, sfDir, "embeddings"), k = 8, iters = 2)
    }

  /** The SCALED blocking codebook (k=64, same trainer/space/iters as
    * [[kmeansCells]]) — the SemDeDup production dial made concrete:
    * within-cell pair work is Σ C(n_c, 2), so at a FIXED k it grows
    * quadratically with the corpus; growing k with N keeps cell size
    * (and so total pair work per vector) constant. q69 declares the
    * k=8 gate config; q168 runs the identical dedup over these cells
    * — measured at sf10 the k dial alone takes the within-cell stage
    * ~8× down. Same persisted-registry discipline: trained once per
    * corpus generation. */
  def kmeansCells64(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "kmeans_cells_k64") {
      Similarity.kmeansFit(
        graft.io.Sources.table(spark, sfDir, "embeddings"), k = 64, iters = 2)
    }

  /** The AUTO-SIZED blocking codebook — the semantic-dedup default.
    * Cell count targets constant ~64-vector occupancy at any corpus
    * size ([[graft.ops.Similarity.autoCodebookK]]; at the harness's
    * 500-vector oracle scale: the historical k = 8), trained as a
    * TWO-LEVEL residual codebook of ⌈√k⌉ cells per level
    * ([[graft.ops.Similarity.kmeansFitResidual]]) so the build costs
    * O(√k·dim) per vector instead of flat Lloyd's O(k·dim) — at the
    * k ≈ 3000 an sf10 corpus wants, the flat build would itself be the
    * quadratic row. The corpus row count is read once at build time;
    * the registry's generation keying re-derives k when the corpus is
    * recommitted. q69 gates this path end-to-end with a dynamic
    * oracle (k1 derived from count(*) in SQL); the fixed k=8 flat
    * config survives as q68's trainer gate and the [[kmeansCells]]
    * IVF codebook. */
  def kmeansCellsAuto(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "kmeans_cells_auto") {
      val emb = graft.io.Sources.table(spark, sfDir, "embeddings")
      val k1 = Similarity.sqrtCeil(Similarity.autoCodebookK(emb.count()))
      Similarity.kmeansFitResidual(emb, k1, k1, iters = 2)
    }

  /** The trained unigram-LM vocabulary (p, c): [[graft.ops.Unigram]]'s
    * EM-pruned piece table with its final exact integer counts —
    * bounded metadata (≤ [[graft.ops.Unigram.FinalMulti]] + alphabet
    * rows), trained once per corpus generation. Derives its word-TYPE
    * table FROM [[bpeWords]] (no second corpus normalization pass —
    * the shared-scan discipline). */
  def unigramVocab(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "unigram_vocab") {
      val types = bpeWords(spark, sfDir)
        .select(explode(col("__ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
      // Auto dispatch (in-memory when the type table fits the
      // collect bound — identical vocabulary, UnigramSpec pin): the
      // distributed trainer's seed + EM rounds were 3 extra Spark
      // jobs of fixed overhead in this cold build.
      import spark.implicits._
      graft.ops.Unigram.trainVocabAuto(types).toDF("p", "c")
    }

  /** The normalized POSITIONAL token-array index: one (doc_id, `t`)
    * row per document, t = `split(TextAnalysis.normalize(text), ' ')`
    * — the span-dedup family's token universe with positions
    * preserved, landed once per corpus generation. Measured
    * motivation (sf10, OPTIMIZATION_r16.md): the normalize regex pass
    * is ~15.7 s and the positional machinery on top of it ~0 s — and
    * q208/q209 each evaluated the normalize subtree TWICE per query
    * (span stream + the doc-keyed token-array join back), q91 a
    * fifth time for its span count. The same discipline (and measured
    * shape) as [[bpeWords]]; distinct from it because the span family
    * is non-NFC and POSITIONAL (empty-normalizing docs keep their
    * [""] row — bpeWords' word filter would shift q209's declared
    * n_tokens). */
  def normTokens(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "norm_tokens") {
      corpusDocs(spark, sfDir).select(col("doc_id"),
        split(graft.ops.TextAnalysis.normalize(col("text")), " ").as("t"))
    }

  /** Per-doc span occurrences (doc_id, span, occ) — every 8-token
    * sliding span of the NORMALIZED token stream, pre-collapsed to
    * one row per (doc, span). ONE normalize+explode pass over the
    * corpus, landed as a table; the span-dedup family (q79's
    * duplicated-span aggregate, q91's span-duplication gate) derives
    * from it without re-running the regex scan per consumer — the
    * same discipline as [[shingles]]/[[termFrequencies]]. Derived
    * FROM [[normTokens]]: the one normalize pass this family pays per
    * corpus generation lands there; this build is explode + count
    * over the stored arrays. */
  def spanOccurrences(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "doc_spans") {
      normTokens(spark, sfDir)
        .select(col("doc_id"),
          explode(graft.ops.TextAnalysis.spanGrams(col("t"), 8)).as("span"))
        .groupBy("doc_id", "span").agg(count(lit(1)).as("occ"))
    }

  /** Trained PQ codebooks (4 subspaces × 4 entries over the 64-dim
    * `embeddings`, 2 Lloyd iterations each — the declared q82 config).
    * Driver-side by nature (a codebook IS bounded metadata, the
    * [[graft.ops.Similarity.MaxCentroids]] discipline); memoized per
    * index namespace so the four training passes run once per process
    * and a regenerated raw corpus retrains. In production the
    * codebooks serialize next to the codes table as part of the index
    * generation. */
  private val pqCodebookCache =
    scala.collection.mutable.Map.empty[String, Seq[Seq[Array[Long]]]]
  def pqCodebooks(spark: SparkSession, sfDir: String): Seq[Seq[Array[Long]]] =
    lock.synchronized {
      val st = store(spark, sfDir)
      pqCodebookCache.getOrElseUpdate(st.root, {
        // Bounded metadata, but the TRAINING is corpus aggregates —
        // persist through the registry so a second process reads the
        // table instead of re-running four Lloyd chains.
        val df = cached(spark, st, "pq_codebooks") { bst =>
          import spark.implicits._
          val rows = Similarity.pqTrainCodebooks(
            graft.io.Sources.table(spark, sfDir, "embeddings"),
            dim = 64, m = 4, kPerSub = 4, iters = 2)
            .zipWithIndex.flatMap { case (subs, m) =>
              subs.zipWithIndex.map { case (c, cid) => (m, cid, c.toSeq) }
            }
          bst.overwrite("pq_codebooks", rows.toDF("sub", "cid", "centroid"))
        }
        df.collect()
          .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray))
          .groupBy(_._1).toSeq.sortBy(_._1)
          .map(_._2.sortBy(_._2).map(_._3).toSeq)
      })
    }

  /** PQ codes (vec_id, codes array<bigint>) — the compact searched
    * representation, encoded once per corpus from [[pqCodebooks]] and
    * landed as a table. ADC queries stream THIS table; encoding (m
    * argmin folds over the scan) never re-runs per query batch.
    * Deterministic integer math end-to-end, so the persisted codes
    * are bit-identical to an inline encode (q82's oracle pins the
    * whole chain). */
  def pqCodes(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "pq_codes") {
      Similarity.pqEncode(
        graft.io.Sources.tableRebalanced(spark, sfDir, "embeddings"),
        pqCodebooks(spark, sfDir))
    }

  /** Trained BPE merge table over a corpus's `documents.text`
    * (driver-side bounded metadata, the [[pqCodebooks]] discipline:
    * `nMerges` rules of a few bytes each). Training runs once per
    * (index namespace, nMerges) per process; application is a pure
    * map expression reading this table. In production the merge table
    * serializes next to the tokenized output as part of the corpus
    * generation. */
  private val bpeMergeCache =
    scala.collection.mutable.Map.empty[(String, Int), Seq[(String, String)]]
  def bpeMerges(spark: SparkSession, sfDir: String,
                nMerges: Int): Seq[(String, String)] = lock.synchronized {
    val st = store(spark, sfDir)
    bpeMergeCache.getOrElseUpdate((st.root, nMerges), {
      // Greedy training is prefix-stable (rule k depends only on rules
      // < k — BpeSpec pins it), so a longer already-trained table
      // serves any shorter cap as its prefix: no second training, no
      // second persisted table.
      bpeMergeCache.collectFirst {
        case ((ns, n2), rules) if ns == st.root && n2 >= nMerges =>
          rules.take(nMerges)
      }.getOrElse {
        // Persist the rule table (ordered) so a second process reads it
        // instead of re-training. Training dispatches through
        // [[graft.ops.Bpe.trainMergesAuto]]: ONE distributed corpus
        // pass builds the word-type table, then the greedy loop runs
        // in-memory when the types fit the collect bound (every
        // natural-language vocabulary — 32k rules in ~86 s on an
        // 86k-type corpus) and as distributed batched aggregates past
        // it. All paths produce the identical merge table (BpeSpec pins
        // equality at 512 rules on the harness corpus), so the oracles
        // stay hash-exact whatever the dispatch.
        val name = s"bpe_merges_n$nMerges"
        val df = cached(spark, st, name) { bst =>
          import spark.implicits._
          val rules = graft.ops.Bpe.trainMergesAuto(
            corpusDocs(spark, sfDir), "text", nMerges)
            .zipWithIndex.map { case ((a, b), i) => (i, a, b) }
          bst.overwrite(name, rules.toDF("i", "a", "b"))
        }
        df.collect().sortBy(_.getInt(0))
          .map(r => (r.getString(1), r.getString(2))).toSeq
      }
    })
  }

  /** Per-image perceptual hashes (doc_id, phash) — the media-dedup
    * analogue of [[signatures]]: each document's text bytes become a
    * REAL 18×16 BMP blob (the harness ships no media, so the blob is
    * synthesized through [[graft.ops.Multimodal.encodeBmp24Gray]] —
    * a real container format, exactly invertible for gray pixels),
    * decoded by the production [[graft.ops.Multimodal.BmpCodec]], and
    * dHashed ([[graft.ops.Multimodal.dhash64]]). The decode+hash map
    * pass runs ONCE per corpus and lands as a table; the banded
    * Hamming candidate join reads it on both sides. */
  def imagePhash(spark: SparkSession, sfDir: String): DataFrame =
    imagePhashVia(spark, sfDir, "image_phash",
      Multimodal.encodeBmp24Gray, () => new Multimodal.BmpCodec)

  /** The SAME phash index built through a COMPRESSED container: text
    * bytes → grayscale PNG blobs ([[graft.ops.Multimodal
    * .encodePngGray]]) → the production PNG codec (zlib inflate, row
    * filters, CRC checks) → dHash. PNG stores exact sample bytes, so
    * the hashes are bit-identical to the BMP path — which is the
    * point: q102 pins the dedup chain as codec-agnostic in practice,
    * not just by the `mkCodec` signature. */
  def imagePhashPng(spark: SparkSession, sfDir: String): DataFrame =
    imagePhashVia(spark, sfDir, "image_phash_png",
      Multimodal.encodePngGray, () => new Multimodal.PngCodec)

  /** And through the LZW path: gray pixels in real GIF89a containers
    * decoded by the production [[graft.ops.Multimodal.GifCodec]]
    * (in-engine LZW, palette lookup) — bit-identical hashes again
    * (q107 pins it). */
  def imagePhashGif(spark: SparkSession, sfDir: String): DataFrame =
    imagePhashVia(spark, sfDir, "image_phash_gif",
      Multimodal.encodeGifGray, () => new Multimodal.GifCodec)

  /** And through the LOSSY container: the same gray pixels as
    * max-quality JPEGs ([[graft.ops.Multimodal.encodeJpegGray]])
    * decoded by the production [[graft.ops.Multimodal.JpegCodec]].
    * Unlike the BMP/PNG/GIF legs these hashes are NOT bit-identical
    * to the exact-pixel hashes — JPEG quantization moves a few dHash
    * bits on near-tied cells — so the q109 gate is a per-document
    * Hamming BOUND against the exact index (the q22 bounded-sketch
    * discipline), not hash equality. */
  def imagePhashJpeg(spark: SparkSession, sfDir: String): DataFrame =
    imagePhashVia(spark, sfDir, "image_phash_jpeg",
      Multimodal.encodeJpegGray, () => new Multimodal.JpegCodec)

  /** The 18×16 gray fixture of a document: pixel i = byte i of the
    * UTF-8 text (ASCII corpus), space-padded to 18·16 — row-major,
    * the layout the q97 oracle recomputes with ascii(substring(...)). */
  private def grayFixture(text: String): Array[Byte] = {
    val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val gray = Array.fill[Byte](18 * 16)(32)
    System.arraycopy(bytes, 0, gray, 0, math.min(bytes.length, gray.length))
    gray
  }

  private def imagePhashVia(spark: SparkSession, sfDir: String, name: String,
                            encode: (Array[Byte], Int, Int) => Array[Byte],
                            mkCodec: () => Multimodal.MediaCodec): DataFrame =
    index(spark, sfDir, name) {
      import spark.implicits._
      val media = corpusDocs(spark, sfDir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, encode(grayFixture(text), 18, 16))
        }).toDF("doc_id", "content")
      Multimodal.imageDhash(media, 18, 16, mkCodec)
    }

  /** Per-clip audio fingerprints (doc_id, afp) — the AUDIO member of
    * the media-dedup index family: each document's text bytes become
    * signed 16-bit samples in a REAL RIFF/WAVE container (the q104
    * fixture), decoded by the production
    * [[graft.ops.Multimodal.WavPcmCodec]] and fingerprinted by the
    * integer energy-contour hash
    * ([[graft.ops.Multimodal.audioFingerprint64]]). The decode+hash
    * map pass runs ONCE per corpus and lands as a table; the banded
    * Hamming candidate join reads it on both sides (q110). */
  def audioFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    audioFingerprintVia(spark, sfDir, "audio_fingerprint",
      Multimodal.encodeWavPcm16(_), () => new Multimodal.WavPcmCodec)

  /** The LOSSY audio twin of [[audioFingerprint]]: the same clips
    * through IMA ADPCM compression (encodeAdpcmImaWav →
    * [[graft.ops.Multimodal.AdpcmImaCodec]]) before fingerprinting —
    * the corpus-population half of the q147 tolerance gate. Same
    * build shape: one decode+hash map pass, landed as a table. */
  def audioFingerprintAdpcm(spark: SparkSession, sfDir: String): DataFrame =
    audioFingerprintVia(spark, sfDir, "audio_fingerprint_adpcm",
      Multimodal.encodeAdpcmImaWav(_), () => new Multimodal.AdpcmImaCodec)

  /** The MDCT-transform twin of [[audioFingerprint]]: the same clips
    * through the lossy MDCT subband codec (encodeMdctWav →
    * [[graft.ops.Multimodal.MdctCodec]]) before fingerprinting — the
    * corpus-population half of the q160 tolerance gate. Same build
    * shape: one decode+hash map pass, landed as a table. */
  def audioFingerprintMdct(spark: SparkSession, sfDir: String): DataFrame =
    audioFingerprintVia(spark, sfDir, "audio_fingerprint_mdct",
      Multimodal.encodeMdctWav(_), () => new Multimodal.MdctCodec)

  private def audioFingerprintVia(spark: SparkSession, sfDir: String, name: String,
                                  encode: Array[Short] => Array[Byte],
                                  mkCodec: () => Multimodal.MediaCodec): DataFrame =
    index(spark, sfDir, name) {
      import spark.implicits._
      val media = corpusDocs(spark, sfDir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          // The fingerprint reads only the 130-sample clip prefix
          // (missing samples count as silence — pinned by
          // MultimodalSpec), so encode exactly that: a full-text
          // clip would put ~98 % of the index build's encode/decode
          // byte traffic past the clip, all dead work.
          val samples = Array.tabulate[Short](math.min(bytes.length, 130)) { i =>
            (((bytes(i) & 0xff) - 128) * 256).toShort
          }
          (id, encode(samples))
        }).toDF("doc_id", "content")
      Multimodal.audioFingerprints(media, mkCodec)
    }

  /** Per-VIDEO perceptual hashes (doc_id, phash) — the video member
    * of the media-dedup index family, and the engine's first REAL
    * video decode path: each document's 18×16 gray fixture becomes a
    * 3-frame MJPEG AVI (frame 0 = the exact fixture, frames 1–2
    * deterministic brightness/mirror variants so multi-frame decode is
    * genuinely exercised), decoded by the production
    * [[graft.ops.Multimodal.AviMjpegCodec]] (RIFF walk + per-frame
    * in-engine JPEG decode), and dHashed on FRAME 0 — the
    * representative-frame fingerprinting a video dedup pipeline runs.
    * Derived FROM [[videoSeqPhashMjpeg]]: the representative phash IS
    * the sequence index's frame-0 hash (both builds encoded and
    * decoded the identical 3-frame AVIs and dHashed the same frame-0
    * slice — r16 shared-scan batching: the second 135 s sf10
    * encode+decode pass was pure duplication). */
  def videoPhashMjpeg(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "video_phash_mjpeg") {
      videoSeqPhashMjpeg(spark, sfDir)
        .select(col("doc_id"), col("h0").as("phash"))
    }

  /** Per-frame hash SEQUENCES (doc_id, h0, h1, h2) over the same
    * 3-frame MJPEG AVIs as [[videoPhashMjpeg]] — the temporal
    * fingerprint a video near-dup pipeline verifies with: frame 0 is
    * the representative hash (candidate generation), the full sequence
    * is the cheap cross-frame confirmation that two videos agree over
    * TIME, not just on one keyframe. One encode+decode+hash map pass
    * landed as a table; each frame is sliced from the single decoded
    * buffer, so multi-frame decode is exercised per corpus row, not
    * just in specs. */
  def videoSeqPhashMjpeg(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, "video_seq_phash_mjpeg") {
      import spark.implicits._
      corpusDocs(spark, sfDir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          val codec = new Multimodal.AviMjpegCodec().init()
          it.map { case (id, text) =>
            val gray = grayFixture(text)
            val brighter = gray.map(b => math.min(255, (b & 0xff) + 40).toByte)
            val mirrored = Array.tabulate[Byte](18 * 16) { i =>
              val (y, x) = (i / 18, i % 18); gray(y * 18 + (17 - x))
            }
            val frames = codec.decode(Multimodal.encodeAviMjpeg(
              Seq(gray, brighter, mirrored), 18, 16))
            def h(f: Int): Long = Multimodal.dhash64(
              Multimodal.videoFrameSlice(frames, 18, 16, f), 18, 16)
            (id, h(0), h(1), h(2))
          }
        }.toDF("doc_id", "h0", "h1", "h2")
    }

  /** The domain authority ranks (source, rank_scaled) — the
    * shingle-attribution PageRank ([[CurationQueries.PrIters]]
    * iterations) landed as a table: |sources| rows, built once per
    * corpus generation, read by the rank query and every
    * rate-composed release (recomputing the attribution join + the
    * power iterations per consumer was the curation family's
    * dominant cost). Iteration count is part of the table identity. */
  def domainRanks(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, s"domain_rank_i${CurationQueries.PrIters}") {
      CurationQueries.domainRankCompute(spark, sfDir)
    }

  /** The seed-teleport trust ranks (source, trust_scaled) — the
    * TrustRank twin of [[domainRanks]], same registry discipline. */
  def trustedRanks(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, s"trusted_rank_i${CurationQueries.PrIters}_s2") {
      CurationQueries.trustedRankCompute(spark, sfDir)
    }

  /** Verified image near-dup PAIRS (d1, d2, fp1, fp2, hamming) at
    * [[Dedup.MaxHamming]] — the [[neardupEdges]] discipline for the image
    * modality: the banded-Hamming self join over [[imagePhash]] runs
    * once per corpus generation and its FIVE consumers (q97's pair
    * report, q116's cross-modal gate, q163's temporal verify, q127's
    * image edge set, the [[imagePhashLabels]] CC build) read parquet
    * instead of re-pairing the corpus (r16 measured: the two media
    * pair joins were 24.5 s of q127's 32.6 s sf10). The name carries
    * the radius. */
  def imagePhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, s"image_phash_pairs_h${Dedup.MaxHamming}") {
      Dedup.simhashPairs(imagePhash(spark, sfDir), "doc_id", "phash", fpBits = 64)
    }

  /** Verified audio near-dup PAIRS at [[Dedup.MaxHamming]] — the
    * audio twin of [[imagePhashPairs]] (consumers: q110, q127). */
  def audioFpPairs(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, s"audio_fp_pairs_h${Dedup.MaxHamming}") {
      Dedup.simhashPairs(audioFingerprint(spark, sfDir), "doc_id", "afp", fpBits = 64)
    }

  /** Resolved image near-dup cluster labels (id, component) —
    * connected components over [[imagePhashPairs]], landed as a
    * table: the media-dedup twin of [[neardupLabels]] (q57 reads
    * persisted text labels; q100 reads these — CC runs once per
    * corpus; the name carries the radius). */
  def imagePhashLabels(spark: SparkSession, sfDir: String): DataFrame =
    index(spark, sfDir, s"image_phash_labels_h${Dedup.MaxHamming}") {
      Dedup.connectedComponents(
        imagePhashPairs(spark, sfDir).select("d1", "d2"))
    }

  /** Random-hyperplane band signatures (vec_id, b0, b1) over the
    * `embeddings` table — the cosine-space analogue of [[signatures]]:
    * the 2·np hyperplane dot products per vector are the dominant
    * scan, run once and landed as a table; the banded candidate self
    * join reads it on both sides. Planes per band are AUTO-SIZED from
    * the corpus cardinality ([[graft.ops.Similarity.autoPlanes]] —
    * occupancy-2 bucket space, the fix for the r9 probe's 137×
    * super-linear row); the count is a parquet-metadata pass, and a
    * regenerated corpus re-derives np with its new fingerprint. */
  def rpSignatures(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.io.Sources.tableRebalanced(spark, sfDir, "embeddings")
    val np = Similarity.autoPlanes(e.count())
    // The plane count is part of the table IDENTITY: a registry built
    // by other config (an older fixed-8 build, or the same corpus
    // read at a different cardinality) must never be served as this
    // one — signatures at the wrong np would disagree wholesale with
    // the oracle's count-derived banding.
    index(spark, sfDir, s"rp_sigs_np$np") {
      Similarity.rpSignatures(e, "vec_id", "embedding", dim = 64, nPlanes = np)
    }
  }
}
