package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Functions.{minhashFn, portableHash64}

/** Document deduplication for large-scale training-data pipelines:
  * exact (hash-groupBy), MinHash + banded LSH (near-dup without
  * all-pairs), and SimHash (bit-sampled fingerprints with bucketed
  * Hamming search).
  *
  * Scale design (100 TB): every per-document step here is a pure
  * array expression (tokenize → shingle → hash → signature) that runs
  * inside whole-stage codegen with NO shuffle and NO explode — one
  * map pass over the corpus, however large. The only shuffles are
  * (a) the groupBy on the 64-bit content hash for exact dedup
  * (map-side combine applies) and (b) the equi-joins on band
  * signatures for LSH candidates — which is the whole point of LSH:
  * candidate generation is a hash join on band keys, never an
  * all-pairs comparison. SimHash aggregates per-token ±1 votes in a
  * single hash aggregate (partial aggregation applies).
  *
  * No UDFs anywhere: higher-order functions + md5/conv keep the hash
  * engine-portable (the DuckDB oracle computes identical 64-bit
  * values), so correctness is verifiable bit-for-bit.
  */
object Dedup {

  /** MinHash modulus: Mersenne prime 2^31-1. */
  val P: Long = 2147483647L

  /** Number of MinHash functions and LSH band width (12 = 4 bands x 3
    * rows: P[candidate] = 1-(1-j^3)^4 — steep around j≈0.6). */
  val NumHashes = 12
  val BandRows = 3
  val NumBands: Int = NumHashes / BandRows

  /** Default band-bucket frequency cap, engaged by every candidate
    * generator unless the caller explicitly passes `None`. A (band,
    * signature) bucket of b docs yields b·(b−1)/2 pairs, so one
    * degenerate signature (near-empty boilerplate docs) is one
    * quadratic straggler task at scale — the cap must be ON by
    * default, not an opt-in. 1000 is far above any organic bucket
    * (the harness corpora peak at 3 members at sf0.01 and 16 at
    * sf0.1 — DedupSpec pins that the default prunes nothing there,
    * keeping oracle equivalence exact) yet bounds the worst bucket
    * to ~500k pairs in one task. Docs in a hotter bucket still pair
    * through their other, discriminating bands. */
  val DefaultMaxBandFreq: Option[Int] = Some(1000)

  /** Shingle width of every near-dup family ([[shingles]],
    * [[positionalShingleHashes]]): word 3-grams. */
  val ShingleN = 3

  /** Hamming radius of the SimHash/pHash pair joins
    * ([[simhashPairs]], [[simhashPairsAgainst]]). */
  val MaxHamming = 3

  /** Whitespace tokens of a document. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word [[ShingleN]]-gram shingles of a token array. Empty
    * for documents shorter than [[ShingleN]] tokens (guarded: Spark's
    * `sequence` would otherwise generate a DESCENDING range). */
  def shingles(ws: Column): Column =
    when(size(ws) >= ShingleN,
      array_distinct(transform(
        sequence(lit(0), size(ws) - ShingleN),
        i => concat_ws(" ", (1 to ShingleN).map(k => element_at(ws, i + k)): _*))))
      .otherwise(array().cast("array<string>"))

  /** Portable 64-bit hash of every shingle. */
  def shingleHashes(shs: Column): Column =
    transform(shs, s => portableHash64(s))

  /** POSITIONAL shingle hashes — the ordered sequence (no distinct),
    * as winnowing requires: selection picks window MINIMA over the
    * positional stream, so de-duplicating first would change which
    * windows exist. Empty below [[ShingleN]] tokens like [[shingles]]. */
  def positionalShingleHashes(ws: Column): Column =
    when(size(ws) >= ShingleN,
      transform(
        sequence(lit(0), size(ws) - ShingleN),
        i => portableHash64(
          concat_ws(" ", (1 to ShingleN).map(k => element_at(ws, i + k)): _*))))
      .otherwise(array().cast("array<bigint>"))

  /** Winnowing selection (Schleimer/Wilkerson/Aiken's MOSS scheme,
    * public) over an ALREADY-MATERIALIZED positional hash array:
    * slide a `w`-window over the stream and keep each window's
    * MINIMUM — the guarantee is that any shared run of
    * ≥ w+[[ShingleN]]−1 tokens between two documents yields at least one
    * shared selected hash, while the expected index density drops to
    * ~2/(w+1) of the full shingle set. THE index-size dial for
    * sub-document dedup at 100 TB: same detection guarantee for long
    * matches at a fifth of the index (w=8). Selection is by VALUE
    * (distinct window minima), so ties cannot make engines disagree.
    *
    * PERFORMANCE CONTRACT: `hs` must be a real stored attribute (a
    * persisted or checkpointed column), NOT the raw md5 expression
    * lineage. Catalyst inlines a `Column` expression tree at every
    * syntactic use site and common-subexpression elimination does
    * not reach inside higher-order-function lambdas — so handing the
    * positional-hash pipeline here directly re-evaluates the ENTIRE
    * md5 lineage once per window position: O(L²) hash evaluations
    * per document instead of O(L), multiplied again by every
    * DataFrame reference downstream (measured: the r10 q146 bench
    * DNF — one 5k-row input could not finish a pass in 15 min).
    * Use [[buildWinnowIndex]] for the corpus flow. */
  def winnowSelect(hs: Column, window: Int): Column =
    when(size(hs) >= window,
      array_distinct(transform(
        sequence(lit(0), size(hs) - window),
        i => array_min(slice(hs, i + 1, lit(window))))))
      .otherwise(when(size(hs) > 0, array(array_min(hs)))
        .otherwise(array().cast("array<bigint>")))

  /** Materialize the winnowed-fingerprint index through a
    * [[graft.io.TableStore]]: one (idCol, `__fp`) row per selected
    * print per document. TWO-PHASE by design — phase 1 lands the
    * positional hash arrays as a table (ONE md5 pass over the
    * corpus); phase 2 reads them back, so each array is a stored
    * attribute and the window-min transform slices real array data
    * (O(w) per position) instead of re-evaluating the md5 lineage
    * per position (see [[winnowSelect]]'s performance contract). The
    * phase-1 intermediate is dropped after the final table lands.
    * Returns the persisted frame. */
  def buildWinnowIndex(store: graft.io.TableStore, docs: DataFrame,
                       idCol: String, textCol: String, window: Int,
                       table: String = "winnow_prints"): DataFrame = {
    val phsTable = table + "_phs"
    store.overwrite(phsTable,
      docs.select(col(idCol),
          positionalShingleHashes(tokens(col(textCol))).as("__phs"))
        .filter(size(col("__phs")) > 0))
    store.overwrite(table,
      store.read(phsTable)
        .select(col(idCol),
          explode(winnowSelect(col("__phs"), window)).as("__fp")))
    store.delete(phsTable)
    store.read(table)
  }

  /** MinHash signature element i over a shingle-hash array: min of
    * the i-th universal hash over the set. Pure array expression —
    * no explode, no shuffle. */
  def minhashSig(hs: Column, i: Int): Column =
    array_min(transform(hs, h => minhashFn(h, i)))

  /** (doc id, text) → one row per doc with minhash signature columns
    * mh0..mh{n-1}. Documents with fewer than [[ShingleN]] tokens drop
    * out (no shingles → no signature). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withHs = docs
      .withColumn("__ws", tokens(col(textCol)))
      .filter(size(col("__ws")) >= ShingleN)
      .withColumn("__hs", shingleHashes(shingles(col("__ws"))))
    (0 until NumHashes)
      .foldLeft(withHs) { (df, i) => df.withColumn(s"mh$i", minhashSig(col("__hs"), i)) }
      .drop("__ws")
  }

  /** Shingle-hash frame of a corpus: one row per document (shorter
    * than [[ShingleN]] tokens → dropped) with its distinct shingle-hash
    * array as `__hs`, plus `extraCols` carried through. This is the
    * OUTPUT OF THE DOMINANT CORPUS SCAN — every near-dup family
    * (MinHash bands, SimHash votes, inverted-index Jaccard,
    * decontamination) derives from these exact arrays, which is why
    * the registry persists it (`Indexes.shingles`) instead of
    * recomputing the md5 pipeline per consumer. */
  def shingleFrame(docs: DataFrame, idCol: String, textCol: String,
                   extraCols: Seq[String] = Nil): DataFrame =
    docs
      .select((col(idCol) +: extraCols.map(col)) :+ tokens(col(textCol)).as("__ws"): _*)
      .filter(size(col("__ws")) >= ShingleN)
      .select((col(idCol) +: extraCols.map(col)) :+
        shingleHashes(shingles(col("__ws"))).as("__hs"): _*)

  /** MinHash signature columns mh0..mh{n-1} appended to a
    * [[shingleFrame]]-shaped frame (anything carrying `__hs`) — pure
    * array expressions, so deriving signatures FROM a persisted
    * shingle index never re-runs the md5 pass over the corpus. */
  def signaturesFromHashes(hs: DataFrame): DataFrame =
    (0 until NumHashes).foldLeft(hs) { (df, i) =>
      df.withColumn(s"mh$i", minhashSig(col("__hs"), i))
    }

  /** One (band_id, band_signature) row per doc per band — the shared
    * exploded shape both candidate generators join on. Field names must
    * agree across bands or `array` rejects the struct types as
    * different. */
  private def bandRows(sigs: DataFrame, idCol: String, idAs: String): DataFrame = {
    val bandStructs = (0 until NumBands).map { b =>
      struct((0 until BandRows).map(r => col(s"mh${b * BandRows + r}").as(s"v$r")): _*)
    }
    sigs.select(col(idCol).as(idAs),
      posexplode(array(bandStructs: _*)).as(Seq(s"__band_$idAs", s"__bsig_$idAs")))
  }

  /** Band buckets exceeding `maxFreq` members — the degenerate keys a
    * frequency cap drops (e.g. near-empty documents all sharing one
    * band signature). Tiny by construction (a bucket must beat the
    * cap to appear), so callers can count/log it cheaply before a
    * capped candidate run: `hotBands(sigs, "doc_id", 50).count()`. */
  def hotBands(sigs: DataFrame, idCol: String, maxFreq: Int): DataFrame =
    bandRows(sigs, idCol, "d")
      .groupBy(col("__band_d").as("band"), col("__bsig_d").as("bsig"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxFreq)

  /** Band rows with hot buckets removed: a (band, signature) bucket of
    * b docs yields b·(b−1)/2 candidate pairs, so ONE degenerate
    * signature shared by a million near-empty docs is a 5·10^11-pair
    * straggler. Standard LSH practice caps bucket frequency: docs in a
    * bucket larger than `maxFreq` are so generic the bucket carries no
    * discriminating signal (they still pair through their other
    * bands). The hot-key set is tiny, so the prune is a broadcast
    * anti join — no extra shuffle of the band rows. */
  private def cappedBandRows(sigs: DataFrame, idCol: String, idAs: String,
                             maxBandFreq: Option[Int]): DataFrame = {
    val rows = bandRows(sigs, idCol, idAs)
    maxBandFreq.fold(rows) { cap =>
      val hot = hotBands(sigs, idCol, cap)
        .select(col("band").as("__hb"), col("bsig").as("__hs"))
      rows.join(broadcast(hot),
        col(s"__band_$idAs") === col("__hb") && col(s"__bsig_$idAs") === col("__hs"),
        "left_anti")
    }
  }

  /** LSH candidate pairs: docs agreeing on ALL rows of at least one
    * band. Each doc explodes into one (band_id, band_signature) row
    * per band; ONE self equi join on that pair yields all candidates —
    * a single shuffle over narrow keys, never all-pairs, instead of
    * NumBands separate joins each rescanning the signature pipeline
    * (at 100 TB the signature scan is the dominant cost, so scan
    * count, not join count, is what matters). Returns distinct
    * (d1, d2) with d1 < d2.
    *
    * `maxBandFreq` drops band buckets with more members than the cap
    * before the join — see [[cappedBandRows]]; it defaults to
    * [[DefaultMaxBandFreq]] (pass `None` explicitly to run uncapped,
    * e.g. for an exhaustive offline audit). Pruning ONE side suffices
    * for the self join — a pair needs its bucket on both sides, so
    * removing hot buckets from d1 alone removes those pairs — and
    * halves the cap's extra pass over the band rows. */
  def lshCandidates(sigs: DataFrame, idCol: String,
                    maxBandFreq: Option[Int] = DefaultMaxBandFreq): DataFrame =
    cappedBandRows(sigs, idCol, "d1", maxBandFreq)
      .join(bandRows(sigs, idCol, "d2"),
        col("__band_d1") === col("__band_d2") && col("__bsig_d1") === col("__bsig_d2") &&
          col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()

  /** Exact Jaccard over two distinct-element arrays. */
  def jaccardParts(s1: Column, s2: Column): (Column, Column) =
    (size(array_intersect(s1, s2)), size(array_union(s1, s2)))

  /** LSH candidate pairs with their exact Jaccard counts: ONE banded
    * candidate self join over a signature frame (id, `__hs`,
    * mh0..mh{n-1} — [[minhashSignatures]] output or the persisted
    * registry index), then the shingle sets joined back
    * for `__inter`/`__union` alongside `d1`/`d2` (plus `hs1`/`hs2`).
    * The signature frame is referenced three times (candidates + both
    * set lookups) — hand it the PERSISTED index so those are parquet
    * reads, not three md5-pipeline scans. */
  def scoredCandidatePairs(sigs: DataFrame, idCol: String): DataFrame = {
    val withSets = lshCandidates(sigs, idCol)
      .join(sigs.select(col(idCol).as("d1"), col("__hs").as("hs1")), "d1")
      .join(sigs.select(col(idCol).as("d2"), col("__hs").as("hs2")), "d2")
    val (inter, uni) = jaccardParts(col("hs1"), col("hs2"))
    withSets
      .withColumn("__inter", inter.cast("bigint"))
      .withColumn("__union", uni.cast("bigint"))
  }

  /** Default per-task row cap for the inverted-index pair join in
    * [[ngramJaccardPairsFromHashes]]: a shingle shared by b docs in one
    * bucket is b·(b−1)/2 pair rows on one task uncapped; the fragment-
    * replicate split bounds that at ~cap² while leaving the pair SET
    * exactly unchanged (so the cap needs no oracle mirror). 1000 is
    * far above any organic shared-shingle frequency in the harness
    * corpora yet bounds a corpus-common boilerplate 3-gram ("in the
    * of"-class) at 100 TB. */
  val DefaultHotShingleCap = 1000

  /** Exact n-gram Jaccard pairs WITHIN same-`bucketCol` groups via an
    * inverted index over a shingle frame (idCol, bucketCol, `__hs` —
    * the persisted registry shingle index, so the index join and the
    * size lookup are parquet reads, not corpus-wide md5 scans): explode
    * docs to (bucket, shingle-hash) rows and self-join on that key, so
    * a pair materializes once per SHARED shingle (linear in total
    * overlap — never the within-bucket all-pairs intersect, which is
    * quadratic in bucket size); |intersection| is then a count per
    * pair and |union| = n1 + n2 − |intersection|. Pairs at `threshold`
    * Jaccard or above survive, as (d1, d2, inter_cnt, union_cnt) with
    * d1 < d2.
    *
    * The index join itself has a skew hazard the banded-LSH cap
    * can't see: a shingle shared by b docs within one bucket is a hot
    * (bucket, hash) key with b·(b−1)/2 pair rows in ONE task — and
    * corpus-common boilerplate 3-grams are hot BY CONSTRUCTION. The
    * join therefore runs through [[Skew.boundedBucketSelfJoin]]
    * (fragment-replicate), which splits buckets over `hotShingleCap`
    * rows into bounded task cells while provably preserving the pair
    * set — results are bit-identical to the plain join at ANY cap. */
  def ngramJaccardPairsFromHashes(hs: DataFrame, idCol: String,
                                  bucketCol: String, threshold: Double,
                                  hotShingleCap: Int = DefaultHotShingleCap): DataFrame = {
    val sizes = hs.select(col(idCol), size(col("__hs")).cast("bigint").as("__n"))
    val inv = hs
      .select(col(idCol), col(bucketCol), explode(col("__hs")).as("__h"))
      .select(col(idCol), struct(col(bucketCol), col("__h")).as("__bkt"))
    // Sampled hot detection (1-in-16): shingle keys are mostly unique,
    // so the exact count would shuffle nearly the whole inverted index
    // just to find the handful of boilerplate keys; at cap 1000 the
    // sampled pass still detects ≥2·cap buckets essentially surely and
    // never changes the pair set (see boundedBucketSelfJoin).
    val inter = Skew.boundedBucketSelfJoin(inv, "__bkt", idCol, hotShingleCap,
        detectOneIn = 16)
      .groupBy(col(idCol).as("d1"), col(idCol + "_2").as("d2"))
      .agg(count(lit(1)).as("inter_cnt"))
    inter
      .join(sizes.select(col(idCol).as("d1"), col("__n").as("__n1")), "d1")
      .join(sizes.select(col(idCol).as("d2"), col("__n").as("__n2")), "d2")
      .withColumn("union_cnt", col("__n1") + col("__n2") - col("inter_cnt"))
      .filter(col("inter_cnt").cast("double") / col("union_cnt") >= threshold)
      .select(col("d1"), col("d2"), col("inter_cnt"), col("union_cnt"))
  }

  /** Asymmetric shingle-containment pairs — Broder's containment
    * C(A→B) = |A∩B| / |A|, the measure Jaccard MISSES: a short quote
    * living inside a long article has tiny Jaccard (the union is the
    * article) but containment ≈ 1, and sub/superset structure (quotes,
    * boilerplate wrappers, excerpt pages) is exactly what a dedup
    * pipeline must catch to avoid double-counting content. Emits every
    * unordered pair where EITHER side is ≥ `thresholdPct`% contained
    * in the other, with both directions' ppm and flags.
    *
    * Candidate generation is corpus-wide (containment is cross-source
    * by nature — an excerpt site quotes everyone), via the inverted
    * shingle index self join under [[Skew.boundedBucketSelfJoin]]'s
    * fragment-replicate cap (sampled hot detection; the pair SET is
    * provably cap-invariant), then one count aggregate per surviving
    * pair and two size lookups — the q34 machinery with the bucket
    * restriction removed and the verify measure swapped. A pair
    * sharing zero shingles can never pass any positive threshold, so
    * the shared-shingle candidate set is exact against the all-pairs
    * oracle. */
  def containmentPairsFromHashes(hs: DataFrame, idCol: String,
                                 thresholdPct: Int,
                                 hotShingleCap: Int = DefaultHotShingleCap): DataFrame = {
    require(thresholdPct > 0 && thresholdPct <= 100,
      s"containmentPairsFromHashes: thresholdPct out of range: $thresholdPct")
    // Sizes ride the inverted index (one bigint per row) so the pair
    // aggregate reads them as constants-per-group (`min` of a
    // constant) — no post-aggregate joins back to a size table, which
    // would be two more corpus-sized shuffles.
    val inv = hs.select(col(idCol),
      size(col("__hs")).cast("bigint").as("__n"), explode(col("__hs")).as("__h"))
    val inter = Skew.boundedBucketSelfJoin(inv, "__h", idCol, hotShingleCap,
        detectOneIn = 16)
      .groupBy(col(idCol).as("d1"), col(idCol + "_2").as("d2"))
      .agg(count(lit(1)).as("inter_cnt"),
        min(col("__n")).as("n1"), min(col("__n_2")).as("n2"))
    inter
      .filter(col("inter_cnt") * 100 >= lit(thresholdPct) * col("n1") ||
        col("inter_cnt") * 100 >= lit(thresholdPct) * col("n2"))
      .select(col("d1"), col("d2"), col("inter_cnt"), col("n1"), col("n2"),
        expr("(inter_cnt * 1000000) div n1").as("c1_ppm"),
        expr("(inter_cnt * 1000000) div n2").as("c2_ppm"),
        (col("inter_cnt") * 100 >= lit(thresholdPct) * col("n1"))
          .cast("int").as("d1_in_d2"),
        (col("inter_cnt") * 100 >= lit(thresholdPct) * col("n2"))
          .cast("int").as("d2_in_d1"))
  }

  /** Exact-duplicate SET collapse for containment: one (`__gid`,
    * idCol, `__n`) membership row per document, where `__gid` is the
    * MINIMUM doc id sharing the document's exact shingle set (sorted
    * arrays compared whole — grouping is by the set itself, never a
    * lossy 64-bit digest, so two distinct sets can never merge).
    *
    * Why this exists: containment C(A→B) = |A∩B|/|A| is a function of
    * the SETS alone, so documents with identical shingle sets are
    * interchangeable in every pair computation — pair generation need
    * only run over DISTINCT sets, and replica-heavy corpora (mirrors,
    * reposts, crawl re-fetches — the dominant redundancy at 100 TB)
    * collapse quadratically: k average copies cut inverted-index
    * self-join work k². On a corpus with no exact dups this is a
    * no-op costing one linear groupBy. */
  def shingleSetMembers(hs: DataFrame, idCol: String): DataFrame =
    hs.select(col(idCol), sort_array(col("__hs")).as("__k"))
      .groupBy("__k")
      .agg(min(col(idCol)).as("__gid"), collect_list(col(idCol)).as("__ids"))
      .select(col("__gid"), explode(col("__ids")).as(idCol),
        size(col("__k")).cast("bigint").as("__n"))

  /** [[containmentPairsFromHashes]] with exact-duplicate set collapse
    * — the same pair set (ContainmentSpec equivalence pin + q134's
    * all-pairs DuckDB oracle), with the quadratic candidate stage run
    * over DISTINCT shingle sets only:
    *
    *  1. representatives = the shingle rows of each group's `__gid`
    *     (a semi join against the membership table — the arrays are
    *     never re-shuffled);
    *  2. group-level pairs via the inverted-index self join — work
    *     drops by the square of the average duplication factor
    *     (measured on the sf10 corpus: 500k docs → 129,792 distinct
    *     sets, 528.6 M → ~36 M candidate rows);
    *  3. WITHIN-group doc pairs are mutual 100 % containments by
    *     construction (identical sets) — emitted straight from the
    *     membership table under the fragment-replicate cap, no
    *     shingle work at all;
    *  4. qualifying group pairs expand back to doc pairs through two
    *     membership joins — output-proportional, which is the
    *     semantics' own lower bound (the oracle emits every doc
    *     pair too).
    *
    * `members` is [[shingleSetMembers]]' output and `reps` the
    * shingle rows of each group's `__gid` — pass PERSISTED builds so
    * repeat consumers skip both the set groupBy and the semi join.
    * Skew honesty: a megadup group (k identical docs) emits C(k,2)
    * within-group pairs because the SEMANTICS demand them; the cap
    * bounds per-task work, but output volume is irreducible — a
    * production pipeline that only needs canonical assignment should
    * read `members` directly (doc → `__gid` IS the canonical map)
    * and skip pair expansion. An exact AllPairs prefix-filtered
    * candidate path was also measured at sf10 and removed: the
    * replica-heavy corpus's flat df distribution let the prefix cut
    * candidates only 3.75× (528.6 M → 140.9 M) at a costlier
    * per-candidate verify, 204 s vs 77.5 s end to end
    * (ROUND12_NOTES.md, dev/Q145FLOOR_sf10_r12.json). */
  def containmentPairsCollapsed(members: DataFrame, reps: DataFrame,
                                idCol: String, thresholdPct: Int,
                                hotShingleCap: Int = DefaultHotShingleCap): DataFrame = {
    require(thresholdPct > 0 && thresholdPct <= 100,
      s"containmentPairsCollapsed: thresholdPct out of range: $thresholdPct")
    // Group-level pairs: d1/d2 are gids here; sizes/inter are exact
    // set measures, identical for every member of the group.
    val gp = containmentPairsFromHashes(reps, idCol, thresholdPct, hotShingleCap)
    // (3) within-group: every doc pair of a ≥2-member group, mutual
    // full containment (inter = n1 = n2 = the group's set size).
    val within = Skew.boundedBucketSelfJoin(
        members.select(col("__gid"), col(idCol), col("__n")),
        "__gid", idCol, hotShingleCap)
      .select(col(idCol).as("d1"), col(idCol + "_2").as("d2"),
        col("__n").as("inter_cnt"), col("__n").as("n1"), col("__n").as("n2"),
        lit(1000000L).as("c1_ppm"), lit(1000000L).as("c2_ppm"),
        lit(1).as("d1_in_d2"), lit(1).as("d2_in_d1"))
    // (4) cross-group expansion: each member doc pair inherits its
    // group pair's exact measures, re-oriented so d1 < d2 (the gid
    // order and the doc-id order can disagree once expanded).
    val m1 = members.select(col("__gid").as("__g1"), col(idCol).as("__a"))
    val m2 = members.select(col("__gid").as("__g2"), col(idCol).as("__b"))
    val cross = gp
      .withColumnRenamed("d1", "__g1").withColumnRenamed("d2", "__g2")
      .join(m1, "__g1").join(m2, "__g2")
      .select(
        least(col("__a"), col("__b")).as("d1"),
        greatest(col("__a"), col("__b")).as("d2"),
        col("inter_cnt"),
        when(col("__a") < col("__b"), col("n1")).otherwise(col("n2")).as("n1"),
        when(col("__a") < col("__b"), col("n2")).otherwise(col("n1")).as("n2"),
        when(col("__a") < col("__b"), col("c1_ppm")).otherwise(col("c2_ppm")).as("c1_ppm"),
        when(col("__a") < col("__b"), col("c2_ppm")).otherwise(col("c1_ppm")).as("c2_ppm"),
        when(col("__a") < col("__b"), col("d1_in_d2")).otherwise(col("d2_in_d1")).as("d1_in_d2"),
        when(col("__a") < col("__b"), col("d2_in_d1")).otherwise(col("d1_in_d2")).as("d2_in_d1"))
    within.unionByName(cross)
  }

  /** Share of a corpus doc's shingles, in percent, that it must share
    * with the eval suite to be flagged contaminated. */
  val ContaminationPercent = 10

  /** Benchmark-contamination stats: for every corpus document, how
    * many of its distinct word n-gram shingles also appear anywhere
    * in `evalDocs` (the held-out benchmark/eval suite), plus a
    * contamination flag at [[ContaminationPercent]] shared shingles. The
    * decontamination step of a training-data pipeline — a corpus doc
    * overlapping an eval document n-gram-wise leaks the benchmark
    * into training.
    *
    * The CORPUS side arrives already shingled — one (idCol, `__h`) row
    * per corpus shingle, e.g. the persisted registry shingle index
    * exploded — so the 100 TB side is a parquet read, not an md5 scan.
    * The eval suite is tiny by construction (benchmarks are thousands
    * of documents), so it shingles from text and its distinct
    * shingle-hash set BROADCASTS: each corpus shingle row probes it
    * map-side, and the corpus shuffles once, by doc id, for the two
    * counts (partial aggs apply). */
  def contaminationStatsFromHashes(corpusShingleRows: DataFrame,
                                   evalDocs: DataFrame,
                                   idCol: String, textCol: String): DataFrame = {
    val evalHashes = evalDocs
      .select(explode(shingleHashes(shingles(tokens(col(textCol))))).as("__h"))
      .distinct()
    // ONE corpus pass: mark each shingle row's eval membership with a
    // broadcast left join, then count total and shared in the same
    // aggregate — a totals-vs-shared two-branch formulation would
    // re-run the md5 shingle pipeline over the whole corpus twice and
    // pay a second shuffle plus a join to recombine.
    corpusShingleRows
      .join(broadcast(evalHashes.withColumn("__hit", lit(1L))), Seq("__h"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum("__hit"), lit(0L)).as("n_shared"))
      .withColumn("contaminated",
        when(col("n_shared") * 100 >= col("n_shingles") * ContaminationPercent, lit(1))
          .otherwise(lit(0)))
  }

  /** Resolve near-dup PAIRS into clusters: connected components by
    * iterative min-label propagation. Input: undirected edges
    * (`d1`, `d2`); output: one row per node appearing in any edge,
    * with `component` = the smallest node id reachable from it (a
    * deterministic cluster id that doubles as the canonical
    * survivor). Nodes with no edges are their own cluster and are
    * simply absent — callers union them back if needed.
    *
    * Scale shape: each iteration is one equi join (labels ↔ edges) +
    * one min aggregate, and the number of iterations is the cluster
    * DIAMETER, not the cluster count — near-dup clusters are
    * star-like (diameter a few hops), so a handful of passes
    * converges even on a 100 TB corpus. The driver loop iterates over
    * CONVERGENCE CHECKS (a count per pass), never over data. Each
    * generation is `localCheckpoint`ed: an iterative plan that
    * re-references its previous generation DOUBLES its lineage per
    * pass — caching alone still carries the 2^i-node logical plan,
    * which blows up planning/rendering long before the data does, so
    * the lineage must be CUT, not just the computation memoized
    * (dropped generations are reclaimed by the context cleaner).
    * `maxIter` bounds a pathological chain; hitting it raises rather
    * than returning a half-propagated clustering.
    *
    * Fault tolerance: the default `localCheckpoint` stores generation
    * blocks on executors — it cuts lineage but is NOT
    * executor-failure tolerant, so on a long production run losing
    * one executor aborts the whole iterative job (there is no lineage
    * left to recompute from). Pass `reliable = true` to write
    * generations to the reliable checkpoint store instead
    * (`spark.sparkContext.setCheckpointDir` must point at shared
    * storage — HDFS/object store on a cluster); each pass then pays
    * one distributed write, and a lost executor only recomputes its
    * own partitions from the last checkpoint. Local mode / short
    * interactive runs keep the cheap default. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
                          reliable: Boolean = false): DataFrame =
    connectedComponentsWithPasses(edges, maxIter, reliable)._1

  /** Propagation passes before switching to star contraction: at 2
    * jobs/pass vs ~6 shuffles/round, propagation is strictly cheaper
    * until the graph has proven itself deeper than the common case —
    * and near-dup cluster graphs are star-like (diameter ≤ a few), so
    * the switch almost never fires in production. Measured on the
    * sf0.1 cluster family (q57/q66/q67): pure alternating-star was
    * 3-6× slower than propagation for identical output. */
  private val PropagationPasses = 4

  /** [[connectedComponents]] plus the number of passes it took
    * (telemetry — DedupSpec pins the sub-diameter pass count on a
    * chain fixture).
    *
    * ADAPTIVE two-phase algorithm:
    *
    *   1. Min-label propagation (one labels↔edges equi join + one min
    *      aggregate + one diff count = 2 jobs/pass), which converges
    *      in diameter-many passes — optimal for the star-like graphs
    *      near-dup clustering actually produces.
    *   2. If still unconverged after [[PropagationPasses]] (the graph
    *      is genuinely deep — chained paraphrases), CONTRACT the graph
    *      through the current labels (supernode edges; the diameter
    *      shrinks by the propagated radius) and finish with the
    *      alternating large-star / small-star contraction (Kiveris et
    *      al., "Connected Components in MapReduce and Beyond", SoCC
    *      2014): large-star re-points every neighbor v > u at
    *      m = min(Γ(u) ∪ {u}); small-star re-points u and its smaller
    *      neighbors at their minimum. Both steps preserve
    *      connectivity and the canonical u > v orientation, and reach
    *      the star-forest fixpoint in O(log d) rounds — so a
    *      diameter-10^4 chain costs ~4 + log d passes total instead
    *      of 10^4, while the common shallow case never pays the
    *      heavier per-round star machinery.
    *
    * Every generation in both phases is checkpointed: an iterative
    * plan that re-references its previous generation DOUBLES its
    * lineage per pass — caching alone still carries the 2^i-node
    * logical plan, so the lineage must be CUT, not just the
    * computation memoized (dropped generations are reclaimed by the
    * context cleaner). `maxIter` bounds the TOTAL pass budget;
    * exhausting it raises rather than returning a half-propagated
    * clustering. */
  def connectedComponentsWithPasses(edges: DataFrame, maxIter: Int = 25,
                                    reliable: Boolean = false): (DataFrame, Int) = {
    def cut(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    val sym = cut(edges.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(edges.select(col("d2").as("src"), col("d1").as("dst")))
      .distinct())
    var labels = cut(sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component")))
    var converged = false
    var i = 0
    // Phase 1: propagation, capped at the switch threshold.
    while (!converged && i < math.min(PropagationPasses, maxIter)) {
      val nbrMin = sym
        .join(labels, sym("dst") === labels("id"))
        .groupBy(col("src")).agg(min(col("component")).as("__nmin"))
      val next = cut(labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("__nmin"), col("component")))
            .as("component")))
      val changed = next.select(col("id").as("nid"), col("component").as("ncomp"))
        .join(labels, col("nid") === labels("id"))
        .filter(col("ncomp") < col("component")).count()
      labels = next
      if (changed == 0) converged = true
      i += 1
    }
    if (converged) return (labels, i)

    // Phase 2: contract through the propagated labels — supernode
    // edges between current component labels — and resolve the deep
    // remainder with alternating stars.
    val lu = labels.select(col("id").as("__su"), col("component").as("cu"))
    val lv = labels.select(col("id").as("__sv"), col("component").as("cv"))
    val contracted = cut(sym
      .join(lu, sym("src") === col("__su")).join(lv, sym("dst") === col("__sv"))
      .select(greatest(col("cu"), col("cv")).as("u"),
        least(col("cu"), col("cv")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    var e = contracted
    while (!converged && i < maxIter) {
      // Large-star: per node, m = min over the symmetric neighborhood
      // and itself; strictly larger neighbors re-point at m. Emitted
      // (v, m) has v > u >= m, so orientation is preserved for free.
      val esym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = esym.groupBy("u").agg(min(col("v")).as("__mv"))
        .select(col("u"), least(col("u"), col("__mv")).as("__m"))
      val ls = esym.join(lsMin, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v")).distinct()
      // Small-star on the oriented edges: m = min smaller neighbor;
      // each row (u, v) becomes (v, m), except the row carrying m
      // itself, which becomes (u, m) — exactly N(u) \ {m} plus u
      // re-pointed, one output row per input row.
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("__m"))
      val next = cut(ls.join(ssMin, "u")
        .select(when(col("v") === col("__m"), col("u")).otherwise(col("v")).as("u"),
          col("__m").as("v"))
        .distinct())
      val changed =
        next.join(e, Seq("u", "v"), "left_anti").count() +
          e.join(next, Seq("u", "v"), "left_anti").count()
      e = next
      if (changed == 0) converged = true
      i += 1
    }
    require(converged,
      s"connectedComponents: no fixpoint within $maxIter passes (pathological graph?)")
    // `e` is now a star forest over SUPERNODES (phase-1 labels):
    // compose the two mappings — a node's final component is its
    // propagated label's star root (or that label itself for roots
    // and supernodes with no surviving edges).
    val stars = e.select(col("u").as("__c1"), col("v").as("__root"))
      .groupBy("__c1").agg(min(col("__root")).as("__root"))
    val composed = labels.join(stars, labels("component") === col("__c1"), "left")
      .select(col("id"), coalesce(col("__root"), col("component")).as("component"))
    (cut(composed), i)
  }

  /** Incremental cluster maintenance: fold a batch of NEW edges into
    * EXISTING component labels without re-running connected components
    * over the world. The production complement of
    * [[lshCandidatesAgainst]]: per batch, the near-dup pipeline finds
    * batch×corpus pairs — this folds them into the materialized
    * cluster map.
    *
    * Only the AFFECTED part of the graph recomputes: components
    * touched by a new edge endpoint are pulled in (their rows re-enter
    * as (member, component-id) star edges — each component is already
    * a star around its min-id root, so the subgraph is shallow), new
    * edges are unioned on, and [[connectedComponents]] runs over that
    * subgraph only. Untouched components pass through BY REFERENCE —
    * zero reads of their members beyond the label anti-join. Work per
    * batch ∝ batch edges + affected-component membership, never corpus
    * size.
    *
    * Correct because component membership only grows along edges: a
    * new edge can merge existing components or attach new nodes, and
    * both happen inside the affected subgraph; the min-label invariant
    * is preserved since every existing member reaches its old root
    * through the star edge and the old root carries the old minimum.
    *
    * @param labels   existing map: one (`id`, `component`) row per
    *                 clustered node (component = min member id, the
    *                 [[connectedComponents]] contract)
    * @param newEdges batch edges (`d1`, `d2`)
    * @return the updated (`id`, `component`) map
    */
  def mergeComponents(labels: DataFrame, newEdges: DataFrame,
                      reliable: Boolean = false): DataFrame = {
    val ends = newEdges.select(col("d1").as("id"))
      .unionByName(newEdges.select(col("d2").as("id"))).distinct()
    // Components with at least one endpoint in the batch. Tiny by
    // construction (bounded by batch size), so the membership pull is
    // a broadcast-able semi/equi join against the label table.
    val affected = labels.join(ends, Seq("id"), "left_semi")
      .select(col("component")).distinct()
    val affectedRows = labels.join(broadcast(affected), Seq("component"))
    // Star edges member→root reconstruct each affected component's
    // connectivity in diameter ≤ 2; roots are real node ids, so the
    // id space stays consistent. Self-loops (the root's own row) carry
    // no information — drop them; the root still appears through its
    // members' edges, or through the new edges for singleton pulls.
    val starEdges = affectedRows
      .filter(col("id") =!= col("component"))
      .select(col("id").as("d1"), col("component").as("d2"))
    val sub = connectedComponents(
      newEdges.select(col("d1"), col("d2")).unionByName(starEdges),
      reliable = reliable)
    labels.join(broadcast(affected), Seq("component"), "left_anti")
      .select(col("id"), col("component"))
      .unionByName(sub.select(col("id"), col("component")))
  }

  /** Incremental LSH near-dup: candidates between a NEW batch and an
    * EXISTING corpus signature index — the at-scale flow (the corpus
    * index is materialized once and re-probed per batch; self-joining
    * the world per batch is the anti-pattern). Same banded equi-join
    * shape as [[lshCandidates]], but the join is batch × corpus, so
    * per-batch work scales with the batch, not the corpus. Returns
    * (batch id as d1, corpus id as d2). */
  def lshCandidatesAgainst(batchSigs: DataFrame, corpusSigs: DataFrame,
                           idCol: String,
                           maxBandFreq: Option[Int] = DefaultMaxBandFreq): DataFrame =
    lshCandidateHits(batchSigs, corpusSigs, idCol, maxBandFreq).distinct()

  /** The raw batch × corpus band join underneath
    * [[lshCandidatesAgainst]], WITHOUT the final `distinct`: a pair
    * appears once per band it collides in. Streaming-safe — `distinct`
    * is stateful in a stream (unbounded dedup state), so a streaming
    * consumer takes these multi-hit rows and dedups per micro-batch in
    * its sink/verify stage, where the batch is bounded. */
  def lshCandidateHits(batchSigs: DataFrame, corpusSigs: DataFrame,
                       idCol: String,
                       maxBandFreq: Option[Int] = DefaultMaxBandFreq): DataFrame =
    // The cap is keyed on the CORPUS index (that's where a degenerate
    // bucket accumulates over batches); the batch side probes pruned.
    lshCandidateHitsAgainstBands(batchSigs, idCol,
      cappedBandRows(corpusSigs, idCol, "d2", maxBandFreq))

  /** Corpus-side CAPPED band rows (`d2`, `__band_d2`, `__bsig_d2`),
    * prepared once for REPEATED probes: a multi-trigger consumer
    * (streaming cluster maintenance) probes the same corpus index
    * every micro-batch, and deriving the band explode + hot-band cap
    * aggregate from the signature frame inside each probe re-runs
    * that corpus-wide pass per trigger. Compute this once, `persist`
    * it for the stream's lifetime, and hand it to
    * [[lshCandidateHitsAgainstBands]]. */
  def corpusBandRows(corpusSigs: DataFrame, idCol: String): DataFrame =
    cappedBandRows(corpusSigs, idCol, "d2", DefaultMaxBandFreq)

  /** [[lshCandidateHits]] against PREPARED corpus band rows (a
    * [[corpusBandRows]] frame, typically persisted by the caller):
    * per-probe corpus work is the join alone — no per-probe band
    * explode or cap aggregate. */
  def lshCandidateHitsAgainstBands(batchSigs: DataFrame, idCol: String,
                                   corpusBands: DataFrame): DataFrame =
    bandRows(batchSigs, idCol, "d1")
      .join(corpusBands,
        col("__band_d1") === col("__band_d2") && col("__bsig_d1") === col("__bsig_d2"))
      .select(col("d1"), col("d2"))

  /** Counter lanes per packed vote aggregate: 4 bit-counters of 15
    * bits each share one summed long, so a `bits`-wide fingerprint
    * needs `bits/4 + 1` aggregate columns instead of `bits` — at
    * 100 TB the partial-agg shuffle carries a quarter of the width. */
  private val LaneBits = 15
  private val Lanes = 4

  /** `bits`-wide SimHash over per-token hashes: per bit j, sum ±1
    * votes across tokens; bit set iff the sum is positive (computed
    * as 2·set-bit-count > token count — integer-identical). Input:
    * one row per (doc, token hash); output: one row per doc. Single
    * hash aggregate over [[Lanes]]-packed counters — partial
    * (map-side) aggregation applies.
    *
    * `bits` caps at 60: [[graft.functions.Functions.portableHash64]]
    * produces 60-bit values (15 md5 hex chars), so higher vote
    * positions would never see a set bit — and 60 keeps every
    * assembled fingerprint a positive BIGINT on both engines.
    * A counter lane holds documents up to 2^15−1 = 32767 tokens;
    * beyond that the packed counts would silently wrap, so the
    * aggregate FAILS LOUDLY instead (chunk such documents first —
    * [[graft.ops.TextAnalysis.chunkStarts]]). */
  def simhashWide(tokenHashes: DataFrame, idCol: String, hashCol: String,
                  bits: Int = 32): DataFrame = {
    require(bits >= 4 && bits <= 60 && bits % 4 == 0,
      s"simhashWide: bits must be in [4, 60] and divisible by 4, got $bits")
    // Pack p carries the set-bit counts of fingerprint bits
    // p·4 .. p·4+3, one per 15-bit lane.
    val nPacks = bits / Lanes
    val packs = (0 until nPacks).map { p =>
      sum((0 until Lanes).map { l =>
        shiftright(col(hashCol), p * Lanes + l).bitwiseAND(lit(1L)) *
          lit(1L << (l * LaneBits))
      }.reduce(_ + _)).as(s"__p$p")
    }
    // Bit j is set iff its ±1 vote sum is positive ⇔ 2·cnt_j > n_tokens.
    def cnt(j: Int): Column =
      shiftright(col(s"__p${j / Lanes}"), (j % Lanes) * LaneBits)
        .bitwiseAND(lit((1L << LaneBits) - 1))
    val laneMax = (1L << LaneBits) - 1
    tokenHashes.groupBy(col(idCol))
      .agg(packs.head, (packs.tail :+ count(lit(1)).as("__n")): _*)
      .select(col(idCol),
        when(col("__n") > laneMax, raise_error(concat(
          lit(s"simhashWide: document exceeds $laneMax tokens (lane overflow): id="),
          col(idCol).cast("string"))))
          .otherwise((0 until bits).map(j =>
            when(cnt(j) * 2 > col("__n"), lit(1L << j)).otherwise(0L)).reduce(_ + _))
          .as("simhash"))
  }

  /** 32-bit SimHash (the oracle-pinned default width). */
  def simhash32(tokenHashes: DataFrame, idCol: String, hashCol: String): DataFrame =
    simhashWide(tokenHashes, idCol, hashCol, bits = 32)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Combinatorial band layout for the Hamming-radius-r families:
    * split the fingerprint into b = r + 3 bands; a pair within
    * Hamming distance r has at most r differing bands, so it agrees
    * EXACTLY on at least b − r = 3 bands — and therefore on at least
    * one of the C(b, 3) specific 3-band combinations. Join keys are
    * 3-band concatenations, so the bucket space is ~2^(3·fpBits/b)
    * instead of a single band's 2^(fpBits/b): for 64-bit dHash at
    * r = 3 that is 2^33 buckets vs the old 4-band scheme's 2^16 —
    * candidate pairs ∝ C(6,3)·n²/2^33, which defers the quadratic
    * knee from ~10^5 images (measured ~180× at 100× data in the r9
    * sf10 probe) to corpora past 10^8. The price is C(b,3) exploded
    * rows per doc (20 at r = 3) instead of 4 — linear, and dwarfed
    * by the pair-term savings. The pigeonhole stays EXACT: recall at
    * radius r is 100 %, so the all-pairs oracles apply unchanged. */
  private final case class ComboBands(combos: Seq[Seq[Int]], offsets: Seq[Int],
                                      widths: Seq[Int])

  private def comboBands(fpBits: Int): ComboBands = {
    val b = MaxHamming + 3
    require(fpBits <= 64 && fpBits >= b,
      s"fpBits must be in [$b, 64] for radius $MaxHamming: $fpBits")
    val baseW = fpBits / b
    val rem = fpBits % b
    val widths = (0 until b).map(k => baseW + (if (k < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    // Keys pack by CUMULATIVE ACTUAL widths, so a combo key occupies
    // at most sum(widths) = fpBits ≤ 64 bits — exact in a long at
    // EVERY radius the API accepts (fixed-stride maxW packing would
    // silently truncate the top band at r = 0, where b = 3 and
    // 3·⌈64/3⌉ = 66 > 64).
    ComboBands((0 until b).combinations(3).map(_.toSeq).toSeq,
      offsets, widths)
  }

  /** One (combo_id, combo_key) row per fingerprint per 3-band combo.
    * Band extraction masks off shiftright's sign extension so
    * full-width 64-bit fingerprints (image dHash uses the sign bit)
    * stay exact. */
  private def comboRows(df: DataFrame, cb: ComboBands, idCol: String,
                        fpCol: String, dAs: String, fpAs: String,
                        bandAs: String, bvAs: String): DataFrame = {
    def key(combo: Seq[Int]): Column = {
      val shifts = combo.map(cb.widths).scanLeft(0)(_ + _).init
      combo.zip(shifts).map { case (k, s) =>
        shiftleft(shiftright(col(fpCol), cb.offsets(k))
          .bitwiseAND(lit((1L << cb.widths(k)) - 1)), s)
      }.reduce(_ bitwiseOR _)
    }
    df.select(col(idCol).as(dAs), col(fpCol).as(fpAs),
      posexplode(array(cb.combos.map(key): _*)).as(Seq(bandAs, bvAs)))
  }

  /** Combo buckets with more members than `cap`, to prune before the
    * pair join: one bucket of m members is m·(m−1)/2 candidate pairs
    * in one task, and a degenerate fingerprint (flat images hashing
    * to all-zero dHash) is hot BY CONSTRUCTION at corpus scale. Same
    * rationale and default as the MinHash family's
    * [[DefaultMaxBandFreq]]; members of a pruned bucket still pair
    * through their other, discriminating combos. The hot set is tiny
    * (a bucket must beat the cap to appear) → broadcast anti join. */
  private def cappedComboRows(rows: DataFrame, bandCol: String, bvCol: String,
                              maxBandFreq: Option[Int]): DataFrame =
    maxBandFreq.fold(rows) { cap =>
      val hot = rows.groupBy(col(bandCol).as("__hb"), col(bvCol).as("__hk"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > cap)
        .select(col("__hb"), col("__hk"))
      rows.join(broadcast(hot),
        col(bandCol) === col("__hb") && col(bvCol) === col("__hk"), "left_anti")
    }

  /** SimHash/pHash near-dup pairs: bucket by 3-band combinations of
    * a (r+3)-band split ([[comboBands]] — pigeonhole-exact at radius
    * r), ONE self equi join on (combo_id, combo_key), then verify
    * the true Hamming distance. Candidate generation is a banded
    * hash join over a ~2^(3·fpBits/(r+3))-bucket space; never
    * all-pairs, and no longer quadratic at 10^5+ docs the way the
    * old single-band 2^(fpBits/4) space was.
    *
    * `maxBandFreq` caps degenerate combo buckets exactly as the
    * MinHash family's [[DefaultMaxBandFreq]] does (pass `None` for
    * an exhaustive audit); the harness corpora never reach the cap,
    * so the all-pairs oracles stay bit-exact (DedupSpec pins that
    * the default prunes nothing there). */
  def simhashPairs(fps: DataFrame, idCol: String, fpCol: String,
                   fpBits: Int = 32,
                   maxBandFreq: Option[Int] = DefaultMaxBandFreq): DataFrame = {
    val cb = comboBands(fpBits)
    val rows = comboRows(fps, cb, idCol, fpCol, "d1", "fp1", "__band", "__bv")
    // Pruning one side suffices for the self join: a pair needs its
    // bucket on both sides (same discipline as [[lshCandidates]]).
    cappedComboRows(rows, "__band", "__bv", maxBandFreq)
      .join(comboRows(fps, cb, idCol, fpCol, "d2", "fp2", "__rband", "__rbv"),
        col("__band") === col("__rband") && col("__bv") === col("__rbv") &&
          col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("fp1"), col("fp2"))
      .distinct()
      .withColumn("hamming", hamming(col("fp1"), col("fp2")).cast("int"))
      .filter(col("hamming") <= MaxHamming)
  }

  /** Batch × corpus banded Hamming pairs: [[simhashPairs]]'s
    * combinatorial pigeonhole banding with the two sides SPLIT — a
    * new batch of fingerprints probes an existing fingerprint index,
    * so per-batch work scales with the batch (× combo-bucket
    * occupancy), never the corpus² — the incremental flow
    * [[lshCandidatesAgainst]] gives the MinHash family, for the
    * SimHash/phash family. Hot combo buckets are capped on the
    * CORPUS side (a pair needs its bucket on both sides, and the
    * corpus is where degenerate occupancy accumulates). Returns
    * (batch id as d1, corpus id as d2, fingerprints, hamming). The
    * fingerprints are 64-bit, as the image and audio pair flows
    * produce. */
  def simhashPairsAgainst(batchFps: DataFrame, corpusFps: DataFrame,
                          idCol: String, fpCol: String,
                          maxBandFreq: Option[Int] = DefaultMaxBandFreq): DataFrame = {
    val cb = comboBands(64)
    val corpus = cappedComboRows(
      comboRows(corpusFps, cb, idCol, fpCol, "d2", "fp2", "__rband", "__rbv"),
      "__rband", "__rbv", maxBandFreq)
    comboRows(batchFps, cb, idCol, fpCol, "d1", "fp1", "__band", "__bv")
      .join(corpus,
        col("__band") === col("__rband") && col("__bv") === col("__rbv"))
      .select(col("d1"), col("d2"), col("fp1"), col("fp2"))
      .distinct()
      .withColumn("hamming", hamming(col("fp1"), col("fp2")).cast("int"))
      .filter(col("hamming") <= MaxHamming)
  }

  /** Per-document shingle NOVELTY — the fraction of a document's
    * distinct 3-gram shingles whose FIRST corpus occurrence (minimum
    * doc id) is this document. A curation scorer, not a dedup: low
    * novelty flags template/boilerplate-heavy documents whose content
    * already exists earlier in the corpus even when no single pair
    * crosses a near-dup threshold. Emitted in parts-per-million
    * (integer division — no float at any boundary).
    *
    * Scale shape — deliberately JOIN-FREE on the shingle key: the
    * naive spelling joins first-occurrences back onto the exploded
    * shingle stream (a skew magnet: one boilerplate shingle in 10⁷
    * documents lands one join task). Instead, two independent
    * aggregates — `min(doc_id)` per shingle re-grouped by that
    * minimum (novel counts), and distinct-shingle counts per document
    * — meet in a narrow join on doc id. Hot shingles partial-agg
    * map-side in both; nothing ever shuffles on a skewed key.
    *
    * Runs over a prepared shingle-HASH frame — the declared q118 hands
    * it the PERSISTED registry shingle index instead of re-running the
    * tokenize+md5 pipeline per consumer (and per aggregate: the
    * exploded stream feeds two aggregates whose exchanges differ, so
    * an unmaterialized lineage would compute the md5 pass twice).
    * `universe` supplies the full id set (the hash frame may drop
    * sub-shingle-length docs); they come back with zero counts. */
  def shingleNoveltyFromHashes(universe: DataFrame, hashed: DataFrame,
                               idCol: String): DataFrame = {
    val sh = hashed.select(col(idCol), explode(col("__hs")).as("__s"))
    val novel = sh.groupBy(col("__s")).agg(min(col(idCol)).as(idCol))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_novel"))
    val totals = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n_shingles"))
    universe.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(novel, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm",
        expr("(n_novel * 1000000) div greatest(n_shingles, 1)"))
  }
}
