package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.Functions._
import graft.io.Sources.table
import graft.ops.{Dedup, TextAnalysis}

/** LLM-training-data pipeline operators over the `documents` table:
  * exact dedup, MinHash-LSH near-dup, SimHash, n-gram Jaccard, text
  * quality scoring, token counting, language ID, and content
  * fingerprinting. Every query is paired with a DuckDB oracle that
  * evaluates the *identical* arithmetic (same md5-based 64-bit hash,
  * same fold order, same regexes), so results match bit-for-bit.
  *
  * Scale stance (these run on the 100 TB corpus, not just the test
  * tables): per-document work is pure array expressions — one
  * codegen'd map pass, no explode except where an aggregation
  * genuinely needs rows (SimHash votes), no UDFs. Candidate
  * generation for near-dup detection is banded LSH (equi joins on
  * band signatures) — never an all-pairs cross join.
  */
object LlmQueries {

  private val P = Dedup.P

  /** The documents scan for queries whose per-doc compute (md5
    * shingling, signatures, tokenize-heavy aggs) dominates the scan:
    * [[graft.io.Sources.rebalance]]d so single-file local inputs
    * don't serialize the pipeline onto one core. At scale the input
    * has thousands of splits and this is exactly `table(...)`. */
  private def docsHeavy(s: org.apache.spark.sql.SparkSession, d: String) =
    graft.io.Sources.tableRebalanced(s, d, "documents")

  /** Portable 64-bit hash, DuckDB side (must mirror
    * [[graft.functions.Functions.portableHash64]]). */
  private[queries] def h64(expr: String): String =
    s"('0x' || substr(md5($expr),1,15))::BIGINT"

  /** (a_i, b_i) of the MinHash family — mirrors
    * [[graft.functions.Functions.minhashFn]]. */
  private val ab: Seq[(Long, Long)] = (0 until Dedup.NumHashes).map { i =>
    ((1103515245L * (i + 1)) % P, (12345L * (i.toLong * i + 1)) % P)
  }

  /** Shared oracle CTEs: tokens → distinct 3-gram shingles → shingle
    * hashes, from a `corpus(doc_id, text)` relation. */
  private[queries] val shingleCtes =
    s"""tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM corpus),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
       |         i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS shs
       |       FROM tok WHERE len(ws) >= 3),
       |hst AS (SELECT doc_id, list_transform(shs, s -> ${h64("s")}) AS hs FROM sh)""".stripMargin

  private val rawCorpus = "corpus AS (SELECT doc_id, text FROM documents)"

  /** Shared q208/q209 oracle CTEs: normalized token arrays (`norm`:
    * doc_id, t) and the POSITIONAL 8-token span stream (`spans`:
    * doc_id, pos, span; pos 1-based) — the same normalization and
    * span rule as q79/[[Indexes.spanOccurrences]], with positions
    * kept (the persisted index collapses them away). */
  private val spanPosCtes: String =
    """norm AS (
      |  SELECT doc_id,
      |         string_split(trim(regexp_replace(regexp_replace(lower(text),
      |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |spans AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         array_to_string(t[CAST(i AS INT):CAST(i AS INT)+7], ' ') AS span
      |  FROM norm, unnest(generate_series(1, CAST(len(t)-7 AS BIGINT))) AS g(i))""".stripMargin

  /** Spark mirror of [[spanPosCtes]]: (norm = (doc_id, t),
    * spans = (doc_id, pos, span)). Both sides read the persisted
    * [[Indexes.normTokens]] arrays — r16: the normalize regex pass
    * was ~15.7 s of every sf10 evaluation (OPTIMIZATION_r16.md) and
    * each caller evaluates `norm` in TWO plan branches (no subtree
    * CSE), so the one normalize pass per corpus generation lands in
    * the registry and every reference here is a parquet scan. The
    * span stream stays a posexplode of the same
    * [[graft.ops.TextAnalysis.spanGrams]] arrays the span index
    * explodes, so the two derivations cannot drift. */
  private def spanPosStream(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val norm = Indexes.normTokens(s, d)
    val spans = norm.select(col("doc_id"),
        posexplode(TextAnalysis.spanGrams(col("t"), 8)).as(Seq("__p", "span")))
      .select(col("doc_id"), (col("__p") + 1).cast("long").as("pos"),
        col("span"))
    (norm, spans)
  }

  /** The span-dedup family's 128-bit span fingerprint, carried as two
    * bigint columns ([[SpanKey]]) so no shuffle after the span scan
    * ever moves the 8-token span STRING itself (~60 B/row on the
    * corpus-sized positional stream; the fingerprint is 16 B —
    * measured r15/r16: the span string was the dominant shuffle
    * payload of the suite's two heaviest rows). Internal routing only:
    * the declared results never emit a fingerprint (span_text is
    * re-derived doc-keyed from the token arrays), and the oracle SQL
    * keeps joining raw strings.
    *
    * Collision argument: two DISTINCT spans alias only if they collide
    * under BOTH xxhash64 chains — the plain seed-42 hash and the
    * lit(1L)-prefixed chain, whose span bytes are hashed from a
    * different running seed, making the pair behave as one 128-bit
    * fingerprint. Expected aliasing pairs ≈ n²/2¹²⁹: at 10¹² distinct
    * spans (beyond 100 TB of text) that is ~10⁻¹⁵ — strictly stronger
    * than the 64-bit-equality convention the declared MinHash family
    * already rests on. An alias's worst case is one span treated as
    * duplicated/merged with another's occurrence set — the same
    * failure class (and 2⁶⁵× rarer than) the h64 shingle convention
    * accepts by declaration. */
  private val SpanKey = Seq("__h1", "__h2")
  private def withSpanKey(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.withColumn("__h1", xxhash64(col("span")))
      .withColumn("__h2", xxhash64(lit(1L), col("span")))
      .drop("span")

  /** MinHash signature columns, oracle side. */
  private val mhColsSql: String = ab.zipWithIndex.map { case ((a, b), i) =>
    s"list_min(list_transform(hs, h -> ($a*(h % $P) + $b) % $P)) AS mh$i"
  }.mkString(",\n")

  /** Banded candidate join, oracle side (UNION dedupes across bands
    * like the Spark side's distinct). */
  private val bandJoinSql: String = (0 until Dedup.NumBands).map { bnd =>
    val conds = (bnd * Dedup.BandRows until (bnd + 1) * Dedup.BandRows)
      .map(i => s"a.mh$i=b.mh$i").mkString(" AND ")
    s"SELECT a.doc_id AS d1, b.doc_id AS d2 FROM sig a JOIN sig b ON $conds AND a.doc_id < b.doc_id"
  }.mkString("\nUNION\n")

  /** The pair-family jaccard verify threshold — interpolated into
    * every oracle SQL string and referenced by every Spark filter, so
    * the two sides and the five queries cannot drift. */
  private[queries] val JaccardThreshold = 0.4

  /** Shared oracle CTE block for the cluster family (q57/q66/q67):
    * verified near-dup pairs (jaccard ≥ [[JaccardThreshold]])
    * resolved into connected components via the recursive closure.
    * Requires `WITH RECURSIVE` and the `sig`/`cand` CTEs in scope;
    * yields `comp(doc_id, component)`. ONE definition — the closure
    * formulation must stay in sync across every cluster query. */
  private val componentCtes =
    s"""pairs AS (SELECT c.d1, c.d2 FROM cand c
      |          JOIN sig a ON a.doc_id = c.d1 JOIN sig b ON b.doc_id = c.d2
      |          WHERE len(list_intersect(a.hs,b.hs))::DOUBLE / len(list_distinct(a.hs||b.hs)) >= $JaccardThreshold),
      |sym AS (SELECT d1 AS src, d2 AS dst FROM pairs
      |        UNION SELECT d2, d1 FROM pairs),
      |reach AS (
      |  SELECT src, dst FROM sym
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src),
      |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
      |         FROM reach GROUP BY src)""".stripMargin

  /** Shared Spark front of the pair family (q31/q93/q65): the scored
    * candidate pair set (d1, d2, `__inter`, `__union`) read from the
    * persisted [[Indexes.minhashPairScores]] table — the banded
    * candidate join + exact-jaccard verify runs once per corpus
    * generation and each consumer is a parquet read (r16: the three
    * rows re-ran the identical subtree at 6.5–9.0 s sf10 each);
    * values are bit-identical to the inline pipeline (q70's oracle +
    * DedupSpec's round-trip pin the signature side; the landed counts
    * are the same exact integer jaccard parts).
    *
    * The candidate join runs with [[Dedup.DefaultMaxBandFreq]]
    * ENGAGED (the generator's default): the uncapped-SQL oracles stay
    * exact because no harness bucket approaches the cap —
    * DedupSpec pins `hotBands(…, DefaultMaxBandFreq).count() == 0`
    * on the sf0.01 corpus, so the cap provably prunes nothing at
    * oracle scale while bounding degenerate buckets at 100 TB. */
  private def pairScores(s: org.apache.spark.sql.SparkSession, d: String) =
    Indexes.minhashPairScores(s, d)

  /** Pairs passing the [[JaccardThreshold]] jaccard verify — the
    * cluster family's edge set, read from the persisted
    * [[Indexes.neardupEdges]] table (built once per corpus). */
  private def verifiedPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    Indexes.neardupEdges(s, d, JaccardThreshold)

  /** Resolved components `(doc_id, component)` from the persisted
    * [[Indexes.neardupLabels]] table — CC runs once per corpus, and
    * q57's oracle pins the persisted labels against the from-scratch
    * recursive closure. */
  private def components(s: org.apache.spark.sql.SparkSession, d: String) =
    Indexes.neardupLabels(s, d, JaccardThreshold)
      .select(col("id").as("doc_id"), col("component"))

  /** The from-scratch cluster oracle — shared verbatim by q57 (full
    * CC) and q73 (incremental CC): incremental maintenance is correct
    * exactly when it is indistinguishable from recomputing the world,
    * so both queries must hash-match the SAME closure. */
  private lazy val clusterOracleSql: String =
    s"""WITH RECURSIVE $rawCorpus,
       |$shingleCtes,
       |sig AS (SELECT doc_id, hs, $mhColsSql FROM hst),
       |cand AS ($bandJoinSql),
       |$componentCtes
       |SELECT c.component, c.doc_id,
       |       count(*) OVER (PARTITION BY c.component) AS cluster_size
       |FROM comp c""".stripMargin

  /** SimHash fingerprint select over a `th(doc_id, h)` relation,
    * oracle side — 32 unrolled ±1 vote sums, then bit assembly. */
  private val simhashSql: String = {
    val votes = (0 until 32)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val assemble = (0 until 32)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""votes AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
       |fp AS (SELECT doc_id, $assemble AS simhash FROM votes)""".stripMargin
  }

  /** 60-bit variant of [[simhashSql]] (`fpw` relation) — the
    * fingerprint width whose 15-bit bands keep candidate buckets
    * fine-grained at large corpus sizes. */
  private val simhashWideSql: String = {
    val votes = (0 until 60)
      .map(j => s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j")
      .mkString(", ")
    val assemble = (0 until 60)
      .map(j => s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"""votesw AS (SELECT doc_id, $votes FROM th GROUP BY doc_id),
       |fpw AS (SELECT doc_id, $assemble AS simhash FROM votesw)""".stripMargin
  }

  /** The linear-threshold quality chain (q150): features →
    * heuristic labels → centroid direction → projections → the
    * balanced-accuracy-optimal threshold. Ends at `${p}pr(doc_id,
    * label_heur, pv)` and `${p}best(tau)`; `p` prefixes every CTE
    * name so the chain composes with other tokenizing chains (the
    * v5 release oracle carries three) in one WITH clause. */
  private[queries] def linearQualityCtes(p: String): String = {
    val stopList = TextAnalysis.Stopwords.map("'" + _ + "'").mkString(",")
    val B = graft.ops.Classify.NumBuckets
    val S = graft.ops.Classify.Scale
    val featCols = (0 until B).map(b =>
      s"CAST(sum(CASE WHEN ${h64("w")} % $B = $b THEN tf ELSE 0 END) AS BIGINT) AS f$b")
      .mkString(",\n       |  ")
    val heur =
      s"""CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 200
         |        AND len(list_filter(string_split(text,' '), w -> w IN ($stopList))) * 5
         |            <= len(string_split(text,' ')) * 2
         |       THEN 1 ELSE 0 END""".stripMargin
    val centCols = (0 until B).map(b =>
      s"CAST((sum(f$b) * $S) // count(*) AS BIGINT) AS c$b").mkString(", ")
    val projE = (0 until B).map(b => s"t.f$b * (p.c$b - q.c$b)").mkString(" + ")
    s"""${p}tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
       |${p}tf AS (SELECT doc_id, w, count(*) AS tf FROM ${p}tok GROUP BY doc_id, w),
       |${p}feat AS (SELECT doc_id,
       |  $featCols
       |  FROM ${p}tf GROUP BY doc_id),
       |${p}lab AS (SELECT doc_id, $heur AS label_heur FROM documents),
       |${p}tr AS MATERIALIZED (SELECT f.*, l.label_heur
       |  FROM ${p}feat f JOIN ${p}lab l USING (doc_id)),
       |${p}cpos AS (SELECT $centCols FROM ${p}tr WHERE label_heur = 1),
       |${p}cneg AS (SELECT $centCols FROM ${p}tr WHERE label_heur = 0),
       |${p}pr AS MATERIALIZED (SELECT t.doc_id, t.label_heur,
       |  CAST($projE AS BIGINT) AS pv
       |  FROM ${p}tr t CROSS JOIN ${p}cpos p CROSS JOIN ${p}cneg q),
       |${p}nct AS (SELECT sum(CASE WHEN label_heur = 1 THEN 1 ELSE 0 END) AS np,
       |               sum(CASE WHEN label_heur = 0 THEN 1 ELSE 0 END) AS nn
       |        FROM ${p}pr),
       |${p}byv AS (SELECT pv,
       |          sum(CASE WHEN label_heur = 1 THEN 1 ELSE 0 END) AS pc,
       |          sum(CASE WHEN label_heur = 0 THEN 1 ELSE 0 END) AS nc
       |        FROM ${p}pr GROUP BY pv),
       |${p}cum AS (SELECT pv,
       |          sum(pc) OVER (ORDER BY pv DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
       |          sum(nc) OVER (ORDER BY pv DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
       |        FROM ${p}byv),
       |${p}best AS (SELECT pv AS tau
       |         FROM ${p}cum CROSS JOIN ${p}nct
       |         ORDER BY (tp * $S) // np + ((nn - fp) * $S) // nn DESC, pv ASC
       |         LIMIT 1)""".stripMargin
  }

  /** The Spark half of the q150 chain, shared with the v5 release:
    * heuristic labels + bucket features, pinned once
    * (localCheckpoint — the frame feeds the fit, the scan, and the
    * predict), plus the fitted (direction, threshold). */
  private[queries] def qualityModel(s: org.apache.spark.sql.SparkSession,
                                    d: String):
      (org.apache.spark.sql.DataFrame, Array[Long], Long) = {
    import graft.ops.Classify
    val ws = Dedup.tokens(col("text"))
    val stopCnt = TextAnalysis.stopwordCount(ws)
    val labels = table(s, d, "documents").select(col("doc_id"),
      when(size(ws).between(20, 200) && stopCnt * 5 <= size(ws) * 2, 1)
        .otherwise(0).cast("int").as("label_heur"))
    val feats = Classify.bucketFeatures(Indexes.termFrequencies(s, d), "doc_id")
    val train = feats.join(labels, Seq("doc_id")).localCheckpoint(true)
    val (w, tau) = Classify.thresholdFit(train, "label_heur")
    (train, w, tau)
  }

  val all: Seq[Q] = Seq(

    // Exact dedup: 64-bit content hash → groupBy → keep the smallest
    // doc_id per group. Deterministic survivor choice (a groupBy-min,
    // not dropDuplicates, whose surviving row is undefined). The
    // corpus injects an exact copy of every 10th doc to exercise the
    // collapse. One shuffle on the hash; map-side combine applies.
    Q("q30_exact_dedup",
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0)
         |SELECT min(doc_id) AS keep_id, ${h64("text")} AS fp, count(*) AS n_copies
         |FROM corpus GROUP BY fp""".stripMargin) {
      (s, d) =>
        val docs = table(s, d, "documents")
        val corpus = docs.select("doc_id", "text").unionByName(
          docs.filter(col("doc_id") % 10 === 0)
            .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        corpus.withColumn("fp", portableHash64(col("text")))
          .groupBy("fp")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .select("keep_id", "fp", "n_copies")
    },

    // MinHash-LSH near-dup: shingle → 12 minhashes → 4 bands of 3 →
    // band-equality hash joins for candidates → exact Jaccard verify
    // within candidates only. The test corpus contains organic
    // near-duplicates; threshold 0.4 keeps verified pairs. Never
    // all-pairs: candidates come from equi joins on band signatures.
    Q("q31_minhash_lsh",
      s"""WITH $rawCorpus,
         |$shingleCtes,
         |sig AS (SELECT doc_id, hs, $mhColsSql FROM hst),
         |cand AS ($bandJoinSql),
         |pairs AS (SELECT c.d1, c.d2, a.hs AS hs1, b.hs AS hs2
         |          FROM cand c JOIN sig a ON a.doc_id = c.d1 JOIN sig b ON b.doc_id = c.d2)
         |SELECT d1, d2, len(list_intersect(hs1,hs2)) AS inter_cnt,
         |       len(list_distinct(hs1||hs2)) AS union_cnt,
         |       round(len(list_intersect(hs1,hs2))::DOUBLE / len(list_distinct(hs1||hs2)), 6) AS jac
         |FROM pairs
         |WHERE len(list_intersect(hs1,hs2))::DOUBLE / len(list_distinct(hs1||hs2)) >= $JaccardThreshold""".stripMargin) {
      (s, d) =>
        pairScores(s, d)
          .withColumn("inter_cnt", col("__inter"))
          .withColumn("union_cnt", col("__union"))
          .withColumn("jac",
            roundFrac(col("inter_cnt").cast("double") / col("union_cnt"), 6))
          .filter(col("inter_cnt").cast("double") / col("union_cnt") >= JaccardThreshold)
          .select("d1", "d2", "inter_cnt", "union_cnt", "jac")
    },

    // MinHash estimator calibration: per candidate pair, the
    // signature-agreement count (the estimator — agree/NumHashes ≈
    // jaccard) NEXT TO the exact shingle intersection/union — the
    // diagnostic that tunes band/row choices before a corpus-wide run
    // commits to them (estimate-vs-truth over the candidates the
    // banding actually surfaces). All counts integer; reads the
    // persisted signature index on every side.
    Q("q93_minhash_calibration", {
      val agreeTerms = (0 until Dedup.NumHashes)
        .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $rawCorpus,
         |$shingleCtes,
         |sig AS (SELECT doc_id, hs, $mhColsSql FROM hst),
         |cand AS ($bandJoinSql)
         |SELECT c.d1, c.d2,
         |       CAST($agreeTerms AS BIGINT) AS mh_agree,
         |       len(list_intersect(a.hs, b.hs)) AS inter_cnt,
         |       len(list_distinct(a.hs || b.hs)) AS union_cnt
         |FROM cand c JOIN sig a ON a.doc_id = c.d1
         |            JOIN sig b ON b.doc_id = c.d2""".stripMargin
    }) {
      (s, d) =>
        val sig = Indexes.signatures(s, d)
        val mhIdx = 0 until Dedup.NumHashes
        val a = sig.select(col("doc_id").as("d1") +:
          mhIdx.map(i => col(s"mh$i").as(s"__a$i")): _*)
        val b = sig.select(col("doc_id").as("d2") +:
          mhIdx.map(i => col(s"mh$i").as(s"__b$i")): _*)
        pairScores(s, d)
          .join(a, "d1").join(b, "d2")
          .withColumn("mh_agree",
            mhIdx.map(i => when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0))
              .reduce(_ + _).cast("bigint"))
          .select(col("d1"), col("d2"), col("mh_agree"),
            col("__inter").as("inter_cnt"), col("__union").as("union_cnt"))
    },

    // Near-dup CLUSTER resolution: the step after pair generation a
    // production dedup actually needs — fold the verified LSH pairs
    // into connected components (iterative min-label propagation,
    // O(cluster diameter) joins) and report each clustered doc with
    // its deterministic cluster id (= smallest member, the canonical
    // survivor) and the cluster size. The oracle computes the same
    // closure with a recursive CTE.
    Q("q57_neardup_clusters", clusterOracleSql) {
      (s, d) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
        components(s, d)
          .select(col("component"), col("doc_id"))
          .withColumn("cluster_size", count(lit(1)).over(w))
    },

    // Quality-based cluster REPRESENTATIVE selection: production
    // near-dup pipelines do not keep the min-id member of each
    // cluster (that keeps whichever spelling happened to be crawled
    // first — often the worst one); they keep the highest-QUALITY
    // member. Representative = argmax of the integer quality key
    // (is_q gate first, then longest text, smallest doc_id as the
    // tie-break — the stop-ratio gate is the integer-exact form
    // stop_cnt·5 ≤ n_tok·2 of q35's ≤ 0.4). The argmax is ONE
    // max(struct(...)) hash aggregate — partial-aggregable map-side,
    // so a 10⁹-member cluster contributes one row per partition to
    // the shuffle; a row_number window here would sort every cluster
    // to keep one row.
    Q("q177_cluster_representatives",
      s"""WITH RECURSIVE $rawCorpus,
         |$shingleCtes,
         |sig AS (SELECT doc_id, hs, $mhColsSql FROM hst),
         |cand AS ($bandJoinSql),
         |$componentCtes,
         |q AS (
         |  SELECT doc_id,
         |    CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 200
         |          AND len(list_filter(string_split(text,' '),
         |                w -> w IN (${TextAnalysis.Stopwords.map("'" + _ + "'").mkString(",")}))) * 5
         |              <= len(string_split(text,' ')) * 2
         |         THEN 1 ELSE 0 END AS is_q,
         |    length(text) AS nc
         |  FROM corpus)
         |SELECT component, cluster_size, doc_id AS rep_doc_id,
         |       is_q AS rep_is_q, nc AS rep_nc
         |FROM (
         |  SELECT c.component,
         |         CAST(count(*) OVER (PARTITION BY c.component) AS BIGINT) AS cluster_size,
         |         c.doc_id, q.is_q, q.nc,
         |         row_number() OVER (PARTITION BY c.component
         |           ORDER BY q.is_q DESC, q.nc DESC, c.doc_id ASC) AS rn
         |  FROM comp c JOIN q USING (doc_id)) WHERE rn = 1""".stripMargin) {
      (s, d) =>
        val ws = Dedup.tokens(col("text"))
        val stopCnt = TextAnalysis.stopwordCount(ws)
        val quality = docsHeavy(s, d).select(
          col("doc_id"),
          when(size(ws).between(20, 200) &&
               stopCnt * 5 <= size(ws) * 2, 1).otherwise(0).as("is_q"),
          length(col("text")).cast("bigint").as("nc"))
        components(s, d)
          .join(quality, "doc_id")
          .groupBy("component")
          .agg(
            count(lit(1)).as("cluster_size"),
            max(struct(col("is_q"), col("nc"),
              (-col("doc_id")).as("negid"))).as("m"))
          .select(col("component"), col("cluster_size"),
            (-col("m.negid")).as("rep_doc_id"),
            col("m.is_q").as("rep_is_q"),
            col("m.nc").as("rep_nc"))
    },

    // Dedup DATACARD: the cluster-size histogram of the resolved
    // near-dup components — the number a release note actually
    // reports ("X% of the corpus is removable duplicate mass, the
    // largest cluster is Y"). One bounded aggregate over the
    // PERSISTED labels table (|histogram| ≤ largest cluster size —
    // dozens of rows at any corpus scale); n_removable per size row
    // is the keep-one-per-cluster arithmetic. Oracle: the same
    // from-scratch closure as q57/q73 (a third consumer of the one
    // shared chain), histogrammed.
    Q("q157_dedup_stats",
      s"""WITH RECURSIVE $rawCorpus,
         |$shingleCtes,
         |sig AS (SELECT doc_id, hs, $mhColsSql FROM hst),
         |cand AS ($bandJoinSql),
         |$componentCtes,
         |sz AS (SELECT component, count(*) AS cs FROM comp GROUP BY component)
         |SELECT CAST(cs AS BIGINT) AS cluster_size,
         |       CAST(count(*) AS BIGINT) AS n_clusters,
         |       CAST(sum(cs) AS BIGINT) AS n_docs,
         |       CAST(sum(cs) - count(*) AS BIGINT) AS n_removable
         |FROM sz GROUP BY cs""".stripMargin) {
      (s, d) =>
        components(s, d)
          .groupBy("component").agg(count(lit(1)).as("cs"))
          .groupBy(col("cs").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("cs")).as("n_docs"),
            (sum(col("cs")) - count(lit(1))).as("n_removable"))
    },

    // Leakage-free dataset split: the split key is the NEAR-DUP
    // CLUSTER id (q57's components; singletons key on their own doc
    // id), so near-duplicate documents can never straddle the
    // train/val/test boundary — hashing raw doc ids (q46) would leak
    // paraphrases of training documents into eval. This is the
    // composition that motivates cluster resolution: components →
    // coalesce onto the corpus → the same deterministic hash-bucket
    // assignment as q46, now per cluster.
    Q("q66_leakage_free_split",
      s"""WITH RECURSIVE $rawCorpus,
         |$shingleCtes,
         |sig AS (SELECT doc_id, hs, $mhColsSql FROM hst),
         |cand AS ($bandJoinSql),
         |$componentCtes,
         |keyed AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS split_key
         |          FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
         |SELECT doc_id, split_key,
         |       CASE WHEN ${h64("CAST(split_key AS VARCHAR)")} % 100 < 90 THEN 'train'
         |            WHEN ${h64("CAST(split_key AS VARCHAR)")} % 100 < 95 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM keyed""".stripMargin) {
      (s, d) =>
        val bucket = pmod(portableHash64(col("split_key").cast("string")), lit(100))
        table(s, d, "documents").select("doc_id")
          .join(components(s, d), Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("split_key"))
          .withColumn("split",
            when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
    },

    // Quality-ranked canonical selection: per near-dup cluster, keep
    // the HIGHEST-QUALITY member — the "keep the best copy" dedup
    // policy (q57's min-id survivor is the deterministic default; a
    // real pipeline keeps the longest/cleanest member). Quality here
    // is the integer token count with doc-id tie-break, so the rank
    // is exact integer comparison on both engines. One window per
    // component over the (tiny) clustered subset.
    Q("q67_cluster_survivors",
      s"""WITH RECURSIVE $rawCorpus,
         |$shingleCtes,
         |sig AS (SELECT doc_id, hs, $mhColsSql FROM hst),
         |cand AS ($bandJoinSql),
         |$componentCtes,
         |sized AS (SELECT c.component, c.doc_id,
         |            len(string_split(d.text,' ')) AS n_tok
         |          FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY component
         |             ORDER BY n_tok DESC, doc_id) AS rnk,
         |             count(*) OVER (PARTITION BY component) AS n_members
         |           FROM sized)
         |SELECT component, doc_id AS survivor_id,
         |       CAST(n_tok AS BIGINT) AS survivor_n_tok, n_members
         |FROM ranked WHERE rnk = 1""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        // Tokenize AFTER joining the (tiny) component labels, like the
        // oracle: projecting n_tok on the documents scan would run a
        // second full-corpus tokenize pass for a handful of members.
        val sized = components(s, d)
          .join(table(s, d, "documents").select("doc_id", "text"), "doc_id")
          .select(col("component"), col("doc_id"),
            size(Dedup.tokens(col("text"))).cast("bigint").as("n_tok"))
        val byQuality = Window.partitionBy(col("component"))
          .orderBy(col("n_tok").desc, col("doc_id"))
        val byComp = Window.partitionBy(col("component"))
        sized
          .withColumn("rnk", row_number().over(byQuality))
          .withColumn("n_members", count(lit(1)).over(byComp))
          .filter(col("rnk") === 1)
          .select(col("component"), col("doc_id").as("survivor_id"),
            col("n_tok").as("survivor_n_tok"), col("n_members"))
    },

    // INCREMENTAL cluster maintenance, declared: the verified edge set
    // splits at a doc_id cutoff into the BASE corpus (both endpoints
    // below — yesterday's world, labels already resolved) and an
    // ARRIVING batch (every edge touching a newer doc). Base labels
    // come from one full CC run; the batch then folds in through
    // [[Dedup.mergeComponents]] — only components touched by a batch
    // edge re-enter (as member→root star edges), so per-batch work is
    // ∝ batch + affected membership, never the corpus. The oracle is
    // q57's from-scratch recursive closure over ALL pairs, shared
    // VERBATIM: incremental maintenance is correct exactly when it is
    // indistinguishable from recomputing the world.
    Q("q73_incremental_cc", clusterOracleSql) {
      (s, d) =>
        // The last 20% of the id space is "today's batch" — derived
        // from a bounded scalar max, the watermark pattern (A1). At
        // any sf the batch stays ∝ corpus fraction, not a fixed count.
        val maxId = table(s, d, "documents")
          .agg(max(col("doc_id")).cast("long")).head().getLong(0)
        val cutoff = maxId * 4 / 5
        val batch = verifiedPairs(s, d)
          .filter(col("d1") >= cutoff || col("d2") >= cutoff)
        // Yesterday's persisted labels (the previous corpus
        // generation's neardup_labels table): the incremental step
        // starts from state on disk, never re-runs history.
        val baseLabels = Indexes
          .neardupLabelsBase(s, d, JaccardThreshold, cutoff)
          .select(col("id"), col("component"))
        val labels = Dedup.mergeComponents(baseLabels, batch)
          .select(col("id").as("doc_id"), col("component"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
        labels
          .select(col("component"), col("doc_id"))
          .withColumn("cluster_size", count(lit(1)).over(w))
    },

    // STREAMING cluster maintenance under the oracle gate: the corpus
    // replayed as a REAL document stream (file source, 4 triggers via
    // maxFilesPerTrigger, AvailableNow — the q95/q96 replay pattern
    // applied to the near-dup pipeline). Each micro-batch is signed,
    // probed against the PERSISTED signature index (stream-static
    // banded join; per-trigger cost ∝ batch, never corpus), batch-
    // internal edges join in, and the edges fold into the versioned
    // labels table through mergeComponents — one atomic generation
    // per trigger. The final labels table must hash-match q57's
    // from-scratch recursive-CTE closure: incremental streaming
    // maintenance is only correct when it is indistinguishable from
    // recomputing the world, whatever the batch boundaries were.
    Q("q99_stream_cluster_maintenance", clusterOracleSql) {
      (s, d) =>
        // The static corpus index is probed by EVERY trigger
        // (stream-static banded join): pin it in executor storage for
        // the stream's lifetime so each trigger probes memory instead
        // of re-scanning the index table — and release it when the
        // stream terminates (the persist's scope IS the stream; held
        // longer it squats executor storage for the process lifetime
        // in callers without Bench's cache-clearing loop).
        val sigs = Indexes.signatures(s, d).persist()
        val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
        val scratch = java.nio.file.Files.createTempDirectory("graft_q99")
        val staging = s"$scratch/docs"
        // Stage the stream's arrival log: 4 range files drained two
        // per trigger = 2 multi-file micro-batches. A distributed
        // write, not a driver collect; any batch split yields the
        // same final labels (full-index probing covers every true
        // pair whichever batch its endpoints arrive in) — two
        // triggers prove the incremental-fold property at half the
        // per-trigger startup + commit fixed cost of four.
        docs.repartitionByRange(4, col("doc_id")).write.parquet(staging)
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 2).parquet(staging)
        val store = new graft.io.TableStore(s, s"$scratch/store")
        val q = graft.streaming.Streaming.maintainClusters(stream, store,
          "labels", sigs, "doc_id", "text", JaccardThreshold,
          checkpoint = s"$scratch/cp")
        // awaitTermination returns FALSE on timeout without throwing —
        // unchecked, a timed-out stream would publish labels from the
        // completed triggers only (silently incomplete clusters).
        try require(q.awaitTermination(300000),
          "q99: stream did not drain within 300s — partial labels")
        finally {
          // unpersist must run even when stop() throws (timeout /
          // rethrown stream failure) — it is the whole point of the
          // release.
          try q.stop() finally sigs.unpersist(): Unit
        }
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
        store.readVersioned("labels")
          .select(col("component"), col("id").as("doc_id"))
          .withColumn("cluster_size", count(lit(1)).over(w))
    },

    // Edit-distance near-dup verify: the SAME banded LSH candidate
    // generator as q31, with a string-metric verify policy — exact
    // Levenshtein bounded at 20% of the longer text. The comparison
    // stays in integer space on both engines (5·lev ≤ max_len, never a
    // float ratio), and candidate generation stays the capped banded
    // join — Levenshtein is O(n·m) per pair, affordable ONLY because
    // LSH bounds the pair count first (an all-pairs edit-distance scan
    // is the canonical quadratic blow-up at corpus scale).
    Q("q74_editdist_neardup",
      s"""WITH $rawCorpus,
         |$shingleCtes,
         |sig AS (SELECT doc_id, hs, $mhColsSql FROM hst),
         |cand AS ($bandJoinSql)
         |SELECT c.d1, c.d2,
         |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev,
         |       CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS max_len
         |FROM cand c JOIN documents a ON a.doc_id = c.d1
         |            JOIN documents b ON b.doc_id = c.d2
         |WHERE 5 * levenshtein(a.text, b.text) <= greatest(length(a.text), length(b.text))""".stripMargin) {
      (s, d) =>
        val docs = table(s, d, "documents").select(col("doc_id"), col("text"))
        val nPart = s.sessionState.conf.numShufflePartitions
        // EXPLICIT round-robin repartition before the verify: the
        // candidate list is small in BYTES, so AQE coalesces its
        // exchange to one partition — and the O(n·m) levenshtein
        // (pushed into the text join's condition) would run serially.
        // A user repartition with an explicit count is exempt from AQE
        // coalescing, and round-robin (unlike re-keying on (d1, d2),
        // which CollapseRepartition folds into the distinct's
        // identical exchange) survives the optimizer — so the
        // compute-heavy verify stage keeps full parallelism while the
        // exchange moves only (d1, d2) pairs. Same cost model at
        // 100 TB: cheap rows, dear CPU — partition by compute, not by
        // bytes.
        Dedup.lshCandidates(Indexes.signatures(s, d), "doc_id",
            Dedup.DefaultMaxBandFreq)
          .repartition(nPart)
          .join(docs.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
          .join(docs.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
          .withColumn("max_len",
            greatest(length(col("t1")), length(col("t2"))).cast("bigint"))
          // LOSSLESS length prefilter: lev >= |len(t1) - len(t2)|, so a
          // pair whose length gap alone exceeds max_len/5 can never
          // pass the 5·lev <= max_len policy — skip its DP entirely.
          .filter(abs(length(col("t1")) - length(col("t2")))
            .cast("bigint") * 5 <= col("max_len"))
          // THRESHOLDED DP: the Myers/Hyyrö bit-parallel kernel
          // ([[graft.functions.EditDistance.within]]) — the same
          // 3-arg-levenshtein contract Spark's built-in banded DP
          // implements (exact distance if ≤ k, else -1, early-abandon
          // past the bound), at O(n·⌈m/64⌉) word ops instead of
          // O(n·k) cell ops (r16: measured sf10 same-box below).
          // Surviving rows' values are the exact distance, so the
          // DuckDB oracle (full levenshtein + the same 5·lev <= max_len
          // filter) is unchanged. lev >= 0 IS the policy filter here:
          // integer lev <= floor(max_len/5) ⟺ 5·lev <= max_len.
          .withColumn("lev",
            graft.functions.EditDistanceExpressions.levenshteinWithin(
              col("t1"), col("t2"),
              expr("cast(max_len div 5 as int)")).cast("bigint"))
          .filter(col("lev") >= 0)
          .select("d1", "d2", "lev", "max_len")
    },

    // SimHash: 32-bit bit-sampled fingerprint over distinct 3-gram
    // shingles — one explode + one hash aggregate (partial agg:
    // the shuffle carries 32 ints per doc, not the shingles).
    Q("q32_simhash",
      s"""WITH $rawCorpus,
         |$shingleCtes,
         |th AS (SELECT doc_id, unnest(hs) AS h FROM hst),
         |$simhashSql
         |SELECT doc_id, simhash FROM fp""".stripMargin) {
      (s, d) =>
        // The persisted per-doc fingerprint table — q32's oracle is
        // what pins the persisted values against DuckDB's from-scratch
        // vote pipeline (the same role q70 plays for MinHash).
        Indexes.simhashFingerprints(s, d, bits = 32)
    },

    // SimHash near-dup pairs: bucket fingerprints by 8-bit bytes
    // (pigeonhole: Hamming ≤ 3 over 32 bits ⇒ ≥ 1 of 4 bytes equal),
    // join per byte-band, verify true Hamming ≤ 3. Exact for the
    // radius — and candidate generation stays a hash join.
    Q("q33_simhash_neardup",
      s"""WITH $rawCorpus,
         |$shingleCtes,
         |th AS (SELECT doc_id, unnest(hs) AS h FROM hst),
         |$simhashSql,
         |bands AS (SELECT doc_id, simhash,
         |            (simhash >> 0) & 255 AS b0, (simhash >> 8) & 255 AS b1,
         |            (simhash >> 16) & 255 AS b2, (simhash >> 24) & 255 AS b3 FROM fp),
         |cand AS (${(0 until 4).map(k =>
             s"SELECT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS fp1, b.simhash AS fp2 " +
             s"FROM bands a JOIN bands b ON a.b$k = b.b$k AND a.doc_id < b.doc_id")
             .mkString("\nUNION\n")})
         |SELECT d1, d2, fp1, fp2, bit_count(xor(fp1, fp2))::INT AS hamming
         |FROM cand WHERE bit_count(xor(fp1, fp2)) <= 3""".stripMargin) {
      (s, d) =>
        // Fingerprints from the persisted table — the byte-band
        // candidate joins reference them repeatedly, and every
        // reference is a one-row-per-doc parquet read (q32's oracle
        // pins the persisted values).
        val fps = Indexes.simhashFingerprints(s, d, bits = 32)
        Dedup.simhashPairs(fps, "doc_id", "simhash")
          .select("d1", "d2", "fp1", "fp2", "hamming")
    },

    // Wide (60-bit) SimHash near-dup — the at-scale variant of q33:
    // band-bucket size is ∝ corpus / 2^bandBits, and pair work grows
    // with its SQUARE, so the 32-bit/8-bit-band formulation hits a
    // quadratic knee around 10^5 docs while 15-bit bands over a
    // 60-bit fingerprint defer it 128×. Same pigeonhole (4 bands is
    // exact for Hamming radius 3 at any width), same single banded
    // self-join; the wider fingerprint also sharpens precision (fewer
    // false candidates survive the Hamming verify).
    Q("q52_simhash_wide",
      s"""WITH $rawCorpus,
         |$shingleCtes,
         |th AS (SELECT doc_id, unnest(hs) AS h FROM hst),
         |$simhashWideSql,
         |bands AS (SELECT doc_id, simhash,
         |            ${(0 until 4).map(k =>
                s"(simhash >> ${k * 15}) & 32767 AS b$k").mkString(", ")} FROM fpw),
         |cand AS (${(0 until 4).map(k =>
             s"SELECT a.doc_id AS d1, b.doc_id AS d2, a.simhash AS fp1, b.simhash AS fp2 " +
             s"FROM bands a JOIN bands b ON a.b$k = b.b$k AND a.doc_id < b.doc_id")
             .mkString("\nUNION\n")})
         |SELECT d1, d2, fp1, fp2, bit_count(xor(fp1, fp2))::INT AS hamming
         |FROM cand WHERE bit_count(xor(fp1, fp2)) <= 3""".stripMargin) {
      (s, d) =>
        val fps = Indexes.simhashFingerprints(s, d, bits = 60)
        Dedup.simhashPairs(fps, "doc_id", "simhash", fpBits = 60)
          .select("d1", "d2", "fp1", "fp2", "hamming")
    },

    // n-gram Jaccard with bucket pruning: exact shingle Jaccard, but
    // only within same-`source` buckets (a bounded candidate space —
    // the exact-verify complement to q31's probabilistic candidates).
    // Spark plan: Dedup.ngramJaccardPairsFromHashes — an inverted index (a pair
    // materializes once per SHARED shingle; linear in total overlap,
    // never the quadratic within-bucket all-pairs intersect) whose
    // (source, shingle) self join runs fragment-replicate so a
    // corpus-common boilerplate 3-gram cannot become one quadratic
    // straggler task. The cap provably preserves the pair set, so the
    // plain-join oracle stays exact at any cap value.
    Q("q34_ngram_jaccard",
      s"""WITH corpus AS (SELECT doc_id, text, source FROM documents),
         |$shingleCtes,
         |hsrc AS (SELECT h.doc_id, h.hs, c.source FROM hst h JOIN corpus c ON h.doc_id = c.doc_id)
         |SELECT a.doc_id AS d1, b.doc_id AS d2,
         |       len(list_intersect(a.hs, b.hs)) AS inter_cnt,
         |       len(list_distinct(a.hs || b.hs)) AS union_cnt
         |FROM hsrc a JOIN hsrc b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE len(list_intersect(a.hs, b.hs))::DOUBLE / len(list_distinct(a.hs || b.hs)) >= $JaccardThreshold""".stripMargin) {
      (s, d) =>
        // The shingle frame comes from the persisted index (size
        // lookup + inverted index read it twice — both parquet reads).
        Dedup.ngramJaccardPairsFromHashes(Indexes.shingles(s, d),
          "doc_id", "source", JaccardThreshold)
    },

    // Text quality scoring: token/length stats, stopword ratio, and a
    // rule-based keep flag. Pure per-doc expressions — one map pass.
    Q("q35_text_quality",
      s"""SELECT doc_id,
         |  length(text) AS n_chars_m,
         |  len(string_split(text,' ')) AS n_tok,
         |  round(length(replace(text,' ',''))::DOUBLE / len(string_split(text,' ')), 4) AS avg_tok_len,
         |  len(list_filter(string_split(text,' '), w -> w IN (${TextAnalysis.Stopwords.map("'" + _ + "'").mkString(",")}))) AS stop_cnt,
         |  round(len(list_filter(string_split(text,' '), w -> w IN (${TextAnalysis.Stopwords.map("'" + _ + "'").mkString(",")})))::DOUBLE
         |        / len(string_split(text,' ')), 6) AS stop_ratio,
         |  CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 200
         |        AND len(list_filter(string_split(text,' '), w -> w IN (${TextAnalysis.Stopwords.map("'" + _ + "'").mkString(",")})))::DOUBLE
         |            / len(string_split(text,' ')) <= 0.4
         |       THEN 1 ELSE 0 END AS is_quality
         |FROM documents""".stripMargin) {
      (s, d) =>
        val ws = Dedup.tokens(col("text"))
        val stopCnt = TextAnalysis.stopwordCount(ws)
        docsHeavy(s, d).select(
          col("doc_id"),
          length(col("text")).cast("bigint").as("n_chars_m"),
          size(ws).cast("bigint").as("n_tok"),
          round(TextAnalysis.nonSpaceChars(col("text")).cast("double") / size(ws), 4)
            .as("avg_tok_len"),
          stopCnt.cast("bigint").as("stop_cnt"),
          round(stopCnt.cast("double") / size(ws), 6).as("stop_ratio"),
          when(size(ws).between(20, 200) &&
               stopCnt.cast("double") / size(ws) <= 0.4, 1).otherwise(0)
            .as("is_quality"))
    },

    // Token counting rolled up per source: whitespace tokens and a
    // BPE-ish regex token stream. Per-doc map pass + one partial-agg
    // shuffle on the 20 source keys.
    // DuckDB sum() over BIGINT yields HUGEINT (int128) — cast every
    // aggregate to BIGINT so the driver's hasher sees the same int64
    // values the Spark side emits (r2: hash_match=false on exactly this).
    Q("q36_token_count",
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text,' '))) AS BIGINT) AS ws_tokens,
         |  CAST(sum(len(regexp_extract_all(text, '${TextAnalysis.BpeIshRegex}'))) AS BIGINT) AS bpe_tokens,
         |  CAST(max(len(string_split(text,' '))) AS BIGINT) AS max_doc_tokens
         |FROM documents GROUP BY source""".stripMargin) {
      (s, d) =>
        docsHeavy(s, d).groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(TextAnalysis.wsTokenCount(col("text"))).as("ws_tokens"),
          sum(TextAnalysis.bpeTokenCount(col("text"))).as("bpe_tokens"),
          max(TextAnalysis.wsTokenCount(col("text"))).cast("bigint").as("max_doc_tokens"))
    },

    // Language ID: fixed character-bigram marker profiles per
    // language, argmax with alphabetical tie-break, compared against
    // the labeled `lang`. Fixed-width alternations ⇒ identical
    // non-overlapping match counts on any regex engine.
    Q("q37_lang_id", {
      val scoreCols = TextAnalysis.LangProfiles.map { case (l, prof) =>
        s"len(regexp_extract_all(text, '$prof')) AS s_$l"
      }.mkString(",\n  ")
      val langs = TextAnalysis.LangProfiles.map(_._1)
      val m = s"greatest(${langs.map("s_" + _).mkString(",")})"
      val pred = langs.map(l => s"WHEN s_$l = $m THEN '$l'")
        .mkString("CASE ", " ", " END")
      s"""WITH scored AS (
         |  SELECT doc_id, lang, $scoreCols FROM documents)
         |SELECT doc_id, ${langs.map("s_" + _).mkString(", ")},
         |       $pred AS pred, lang,
         |       CASE WHEN ($pred) = lang THEN 1 ELSE 0 END AS correct
         |FROM scored""".stripMargin
    }) {
      (s, d) =>
        val scores = TextAnalysis.LangProfiles.map { case (l, prof) =>
          TextAnalysis.langScore(col("text"), prof).cast("bigint").as(s"s_$l")
        }
        val scored = docsHeavy(s, d)
          .select(col("doc_id") +: col("lang") +: scores: _*)
        val scoreRefs = TextAnalysis.LangProfiles.map(p => col(s"s_${p._1}"))
        val pred = TextAnalysis.langPredict(scoreRefs)
        scored.select(
          col("doc_id") +: scoreRefs :+ pred.as("pred") :+ col("lang") :+
            when(pred === col("lang"), 1).otherwise(0).as("correct"): _*)
    },

    // Incremental LSH near-dup: a NEW batch (every 10th doc with one
    // appended token) probed against the EXISTING corpus index — the
    // at-scale flow where per-batch work scales with the batch, never
    // the corpus. Candidates from banded batch×corpus equi joins, then
    // exact Jaccard verify within candidates only.
    Q("q43_incremental_neardup", {
      val bShingleCtes = shingleCtes
        .replace("tok AS", "btok AS").replace("sh AS", "bsh AS")
        .replace("hst AS", "bhst AS")
        .replace("FROM corpus", "FROM batch0")
        .replace("FROM tok", "FROM btok").replace("FROM sh", "FROM bsh")
      val crossBandJoin = (0 until Dedup.NumBands).map { bnd =>
        val conds = (bnd * Dedup.BandRows until (bnd + 1) * Dedup.BandRows)
          .map(i => s"a.mh$i=b.mh$i").mkString(" AND ")
        s"SELECT a.doc_id AS d1, b.doc_id AS d2 FROM bsig a JOIN sig b ON $conds"
      }.mkString("\nUNION\n")
      s"""WITH $rawCorpus,
         |$shingleCtes,
         |sig AS (SELECT doc_id, hs, $mhColsSql FROM hst),
         |batch0 AS (SELECT doc_id + 1000000 AS doc_id, text || ' extracontent' AS text
         |           FROM documents WHERE doc_id % 10 = 0),
         |$bShingleCtes,
         |bsig AS (SELECT doc_id, hs, $mhColsSql FROM bhst),
         |cand AS ($crossBandJoin),
         |pairs AS (SELECT c.d1, c.d2, a.hs AS hs1, b.hs AS hs2
         |          FROM cand c JOIN bsig a ON a.doc_id = c.d1 JOIN sig b ON b.doc_id = c.d2)
         |SELECT d1, d2,
         |       CAST(len(list_intersect(hs1,hs2)) AS BIGINT) AS inter_cnt,
         |       CAST(len(list_distinct(hs1||hs2)) AS BIGINT) AS union_cnt,
         |       round(len(list_intersect(hs1,hs2))::DOUBLE / len(list_distinct(hs1||hs2)), 6) AS jac
         |FROM pairs
         |WHERE len(list_intersect(hs1,hs2))::DOUBLE / len(list_distinct(hs1||hs2)) >= $JaccardThreshold""".stripMargin
    }) {
      (s, d) =>
        val docs = docsHeavy(s, d).select("doc_id", "text")
        // The corpus index is the PERSISTED table — exactly the
        // at-scale contract (materialized once, probed per batch).
        val corpusSigs = Indexes.signatures(s, d)
        val batch = docs.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + 1000000).as("doc_id"),
          concat(col("text"), lit(" extracontent")).as("text"))
        val batchSigs = Dedup.minhashSignatures(batch, "doc_id", "text").cache()
        // DefaultMaxBandFreq engaged on the corpus index side — exact
        // vs the uncapped oracle because no sf bucket approaches the
        // cap (DedupSpec pins hotBands empty at sf0.01).
        val cands = Dedup.lshCandidatesAgainst(batchSigs, corpusSigs, "doc_id",
          Dedup.DefaultMaxBandFreq)
        val withSets = cands
          .join(batchSigs.select(col("doc_id").as("d1"), col("__hs").as("hs1")), "d1")
          .join(corpusSigs.select(col("doc_id").as("d2"), col("__hs").as("hs2")), "d2")
        val (inter, uni) = Dedup.jaccardParts(col("hs1"), col("hs2"))
        withSets
          .withColumn("inter_cnt", inter.cast("bigint"))
          .withColumn("union_cnt", uni.cast("bigint"))
          .withColumn("jac",
            roundFrac(col("inter_cnt").cast("double") / col("union_cnt"), 6))
          .filter(col("inter_cnt").cast("double") / col("union_cnt") >= JaccardThreshold)
          .select("d1", "d2", "inter_cnt", "union_cnt", "jac")
    },

    // Corpus-cleaning normalization over deterministically dirtied
    // text (case noise, punctuation, an id suffix): lowercase → strip
    // non-alphanumerics → collapse whitespace → trim. One codegen'd
    // map pass — normalization touches every byte of the corpus, so
    // nothing here may leave whole-stage codegen.
    Q("q44_normalize",
      """WITH dirty AS (
        |  SELECT doc_id,
        |         upper(substring(text, 1, 10)) || '!!  ' || substring(text, 11) ||
        |           ' ## ' || CAST(doc_id AS VARCHAR) AS text
        |  FROM documents)
        |SELECT doc_id,
        |       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |                           ' +', ' ', 'g')) AS norm_text,
        |       CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |                                       ' +', ' ', 'g'))) AS BIGINT) AS norm_len
        |FROM dirty""".stripMargin) {
      (s, d) =>
        val dirty = table(s, d, "documents").select(
          col("doc_id"),
          concat(upper(substring(col("text"), 1, 10)), lit("!!  "),
            expr("substring(text, 11)"), lit(" ## "),
            col("doc_id").cast("string")).as("text"))
        dirty.select(col("doc_id"),
          TextAnalysis.normalize(col("text")).as("norm_text"),
          length(TextAnalysis.normalize(col("text"))).cast("bigint").as("norm_len"))
    },

    // PII scrubbing over deterministically injected emails, phones,
    // and card numbers; redaction order is part of the contract
    // (emails, then cards — which also satisfy the looser phone
    // pattern — then phones).
    Q("q45_pii_scrub",
      // The Scala pattern strings embed verbatim: SQL single-quoted
      // strings pass backslashes through to the regex engine untouched.
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |         substring(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |           '@example.com or +7 (900) 123-45-' ||
         |           lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
         |           ' card 4111111111111111 end' AS text
         |  FROM documents)
         |SELECT doc_id,
         |       regexp_replace(
         |         regexp_replace(
         |           regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |           '${TextAnalysis.CardRe}', '<CARD>', 'g'),
         |         '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS clean_text
         |FROM seeded""".stripMargin) {
      (s, d) =>
        val seeded = table(s, d, "documents").select(
          col("doc_id"),
          concat(substring(col("text"), 1, 40), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com or +7 (900) 123-45-"),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"),
            lit(" card 4111111111111111 end")).as("text"))
        seeded.select(col("doc_id"),
          TextAnalysis.scrubPii(col("text")).as("clean_text"))
    },

    // SPAN-level exact dedup (Lee et al., "Deduplicating Training Data
    // Makes Language Models Better"): duplicated 8-token passages
    // ACROSS documents — the boilerplate/license-block/citation signal
    // that doc-level exact dedup (q30) and near-dup (q31/q34) both
    // miss when the surrounding document differs. Normalize → token
    // spans (TextAnalysis.spanGrams, pure array expressions — span
    // generation never leaves codegen and slices the token array
    // instead of copying the document) → ONE hash aggregation on the
    // span. At 100 TB: the explode multiplies rows ~tokens-per-doc ×,
    // but each span row is small and partial aggregation collapses
    // repeats map-side; the shuffle carries only distinct spans with
    // their partial counts — the same single-shuffle shape as q30.
    Q("q79_span_dedup",
      """WITH norm AS (
        |  SELECT doc_id,
        |         string_split(trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |spans AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(t) - 6),
        |                               i -> array_to_string(t[i:i+7], ' '))) AS span
        |  FROM norm)
        |SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       count(*) AS n_occ
        |FROM spans GROUP BY span HAVING count(DISTINCT doc_id) >= 2""".stripMargin) {
      (s, d) =>
        // From the persisted span index (one normalize+explode pass
        // per corpus — Indexes.spanOccurrences): occ holds one row per
        // (doc, span), so n_docs is a plain count and n_occ a sum —
        // no countDistinct expand over raw span rows.
        Indexes.spanOccurrences(s, d)
          .groupBy("span")
          .agg(count(lit(1)).as("n_docs"), sum(col("occ")).as("n_occ"))
          .filter(col("n_docs") >= 2)
    },

    // k-anonymity / l-diversity release gate (Anonymize.profile): per
    // quasi-identifier group, the size and the sensitive-attribute
    // diversity, with integer release flags — the post-PII-scrub
    // privacy screen a corpus runs before rows ship. One hash
    // aggregation over the QI key (partial agg applies); the
    // suppression variant rides the same key as a window count
    // (AnonymizeSpec pins row-level suppression semantics).
    Q("q80_k_anonymity",
      """SELECT c_nationkey,
        |       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
        |       count(*) AS n,
        |       CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive,
        |       CAST(CASE WHEN count(*) >= 5 THEN 1 ELSE 0 END AS INT) AS k_ok,
        |       CAST(CASE WHEN count(DISTINCT c_mktsegment) >= 3 THEN 1 ELSE 0 END AS INT) AS l_ok
        |FROM customer GROUP BY c_nationkey, bal_bucket""".stripMargin) {
      (s, d) =>
        graft.ops.Anonymize.profile(table(s, d, "customer"),
          qi = Seq(col("c_nationkey"),
            floor(col("c_acctbal") / 1000).cast("bigint").as("bal_bucket")),
          sensitive = col("c_mktsegment"), k = 5, l = 3)
    },

    // Keyed pseudonymization with referential integrity: the same
    // salted hash replaces the customer key in BOTH tables, so the
    // released data still joins and aggregates per entity while the
    // raw identifier never ships — the privacy transform a
    // training-data release runs after the q45 scrub and before the
    // q80 gate. The output is a per-pseudonym order profile computed
    // ON the pseudonymized keys; hash-matching the oracle (which
    // pseudonymizes independently) proves the mapping is consistent
    // across tables AND that per-entity structure survives. A pure
    // map expression on each side + the join the raw keys would have
    // done anyway — zero added shuffles at 100 TB.
    Q("q125_pseudonymize",
      s"""WITH c AS (SELECT ${h64("'rel2024:' || CAST(c_custkey AS VARCHAR)")} AS pseudo_id,
         |             CAST(c_nationkey AS INT) AS nationkey
         |           FROM customer),
         |o AS (SELECT ${h64("'rel2024:' || CAST(o_custkey AS VARCHAR)")} AS pseudo_id,
         |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
         |      FROM orders)
         |SELECT c.pseudo_id, c.nationkey,
         |       CAST(count(o.cents) AS BIGINT) AS n_orders,
         |       CAST(coalesce(sum(o.cents), 0) AS BIGINT) AS sum_cents
         |FROM c LEFT JOIN o ON o.pseudo_id = c.pseudo_id
         |GROUP BY c.pseudo_id, c.nationkey""".stripMargin) {
      (s, d) =>
        import graft.ops.Anonymize.pseudonym
        val c = table(s, d, "customer").select(
          pseudonym(col("c_custkey"), "rel2024").as("pseudo_id"),
          col("c_nationkey").cast("int").as("nationkey"))
        val o = table(s, d, "orders").select(
          pseudonym(col("o_custkey"), "rel2024").as("pseudo_id"),
          graft.functions.Functions.cents(col("o_totalprice")).as("cents"))
        c.join(o, Seq("pseudo_id"), "left")
          .groupBy("pseudo_id", "nationkey")
          .agg(count(col("cents")).as("n_orders"),
            coalesce(sum(col("cents")), lit(0L)).cast("bigint").as("sum_cents"))
    },

    // End-to-end corpus preparation: quality gate → exact dedup with
    // deterministic survivor choice → survivors with their stats. The
    // composition a training-data pipeline actually runs, as one
    // lineage: per-doc map pass (quality), one hash shuffle (dedup),
    // one join back for survivor stats.
    Q("q39_corpus_prep", {
      val stopList = TextAnalysis.Stopwords.map("'" + _ + "'").mkString(",")
      s"""WITH q AS (
         |  SELECT doc_id, text,
         |         CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
         |         len(list_filter(string_split(text,' '), w -> w IN ($stopList)))::DOUBLE
         |           / len(string_split(text,' ')) AS stop_ratio
         |  FROM documents),
         |kept AS (
         |  SELECT doc_id, text, n_tok FROM q
         |  WHERE n_tok BETWEEN 20 AND 200 AND stop_ratio <= 0.4),
         |ded AS (
         |  SELECT min(doc_id) AS doc_id, ${h64("text")} AS fp,
         |         count(*) AS n_copies
         |  FROM kept GROUP BY fp)
         |SELECT d.doc_id, d.fp, d.n_copies, k.n_tok
         |FROM ded d JOIN kept k ON d.doc_id = k.doc_id""".stripMargin
    }) {
      (s, d) =>
        val ws = Dedup.tokens(col("text"))
        val stopCnt = TextAnalysis.stopwordCount(ws)
        val kept = docsHeavy(s, d).select(
            col("doc_id"), col("text"),
            size(ws).cast("bigint").as("n_tok"),
            (stopCnt.cast("double") / size(ws)).as("stop_ratio"))
          .filter(col("n_tok").between(20, 200) && col("stop_ratio") <= 0.4)
        val ded = kept.withColumn("fp", portableHash64(col("text")))
          .groupBy("fp")
          .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        ded.join(kept.select(col("doc_id"), col("n_tok")), "doc_id")
          .select(col("doc_id"), col("fp"), col("n_copies"), col("n_tok"))
    },

    // Repetition-based quality filter: within-document duplicate
    // 3-gram ratio (1 − distinct/total shingles) — the repetition
    // signal used to drop boilerplate/spam from training corpora.
    // Pure integer counts and one int/int division, so the ratio is
    // bit-identical on any engine; one map pass, no shuffle.
    Q("q47_repetition",
      """WITH tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |sh AS (SELECT doc_id,
        |              list_transform(range(1, len(ws)-1),
        |                i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]) AS all_shs
        |       FROM tok WHERE len(ws) >= 3)
        |SELECT doc_id,
        |       CAST(len(all_shs) AS BIGINT) AS total_shingles,
        |       CAST(len(list_distinct(all_shs)) AS BIGINT) AS distinct_shingles,
        |       round(1.0 - len(list_distinct(all_shs))::DOUBLE / len(all_shs), 6) AS dup_ratio,
        |       CAST(CASE WHEN 1.0 - len(list_distinct(all_shs))::DOUBLE / len(all_shs) > 0.2
        |            THEN 1 ELSE 0 END AS INT) AS is_repetitive
        |FROM sh""".stripMargin) {
      (s, d) =>
        val ws = Dedup.tokens(col("text"))
        // ALL shingles (with repeats) — Dedup.shingles dedups, so build
        // the raw windows here.
        val allShs = transform(
          sequence(lit(0), size(col("ws")) - 3),
          i => concat_ws(" ", element_at(col("ws"), i + 1),
            element_at(col("ws"), i + 2), element_at(col("ws"), i + 3)))
        val base = docsHeavy(s, d)
          .select(col("doc_id"), ws.as("ws"))
          .filter(size(col("ws")) >= 3)
          .select(col("doc_id"), allShs.as("all_shs"))
        val total = size(col("all_shs")).cast("bigint")
        val dist = size(array_distinct(col("all_shs"))).cast("bigint")
        val ratio = lit(1.0) - dist.cast("double") / total
        base.select(col("doc_id"),
          total.as("total_shingles"),
          dist.as("distinct_shingles"),
          round(ratio, 6).as("dup_ratio"),
          when(ratio > 0.2, 1).otherwise(0).cast("int").as("is_repetitive"))
    },

    // Deterministic dataset splitting: hash-bucket each doc id into
    // train/val/test (90/5/5) — replayable on any engine (never
    // rand(): a retried task must re-derive the same split), rolled
    // up per source so stratification balance is visible. The
    // assignment is a pure map; the only shuffle is the tiny rollup.
    Q("q46_dataset_split",
      s"""WITH assigned AS (
         |  SELECT doc_id, source,
         |         ${h64("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
         |  FROM documents)
         |SELECT source,
         |       CASE WHEN bucket < 90 THEN 'train'
         |            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
         |       count(*) AS n_docs,
         |       CAST(min(doc_id) AS BIGINT) AS min_doc_id
         |FROM assigned GROUP BY 1, 2""".stripMargin) {
      (s, d) =>
        val bucket = pmod(portableHash64(col("doc_id").cast("string")), lit(100))
        table(s, d, "documents")
          .select(col("doc_id"), col("source"), bucket.as("bucket"))
          .withColumn("split",
            when(col("bucket") < 90, "train")
              .when(col("bucket") < 95, "val").otherwise("test"))
          .groupBy("source", "split")
          .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
    },

    // Temperature-style resampling: per-language multiplicities
    // (upsample rare zh 2.5×, downsample dominant en 0.4×) as
    // deterministic integer copy counts — floors and fractional
    // thresholds are embedded as integer literals, so membership is
    // pure integer comparison on both engines. Map pass + bounded
    // explode; expected multiplicity equals the factor exactly.
    Q("q59_resample",
      s"""WITH base AS (
         |  SELECT doc_id, lang,
         |    (CASE lang WHEN 'en' THEN 0 WHEN 'zh' THEN 2 ELSE 1 END)
         |    + (CASE WHEN ${h64("CAST(doc_id AS VARCHAR)")} % 1000000 <
         |              (CASE lang WHEN 'en' THEN 400000 WHEN 'zh' THEN 500000 ELSE 0 END)
         |            THEN 1 ELSE 0 END) AS n
         |  FROM documents)
         |SELECT doc_id, lang, unnest(range(1, n + 1)) AS copy_idx
         |FROM base""".stripMargin) {
      (s, d) =>
        graft.ops.Sampling.resample(
          table(s, d, "documents"), "lang", "doc_id",
          factors = Map("en" -> 0.4, "zh" -> 2.5), defaultFactor = 1.0)
          .select("doc_id", "lang", "copy_idx")
    },

    // Vocabulary top-k: exact corpus-wide token frequencies, top 50
    // with a deterministic tie-break — the coverage stat tokenizer
    // training starts from. One explode + one hash aggregate
    // (map-side combine carries (token, count), not tokens), then a
    // distributed TakeOrdered for the top slice; the rank window runs
    // over the already-bounded 50 rows, never the vocabulary.
    Q("q58_vocab_topk",
      """WITH tok AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
        |cnt AS (SELECT w, count(*) AS n FROM tok GROUP BY w),
        |ranked AS (SELECT w, n, row_number() OVER (ORDER BY n DESC, w) AS rnk FROM cnt)
        |SELECT w, n, CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= 50""".stripMargin) {
      (s, d) =>
        val top = docsHeavy(s, d)
          .select(explode(Dedup.tokens(col("text"))).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w"))
          .limit(50)
        // Rank the bounded 50-row slice without a WindowExec: pack it
        // into one sorted array (struct(-n, w) sorts ascending = the
        // n DESC, w ASC rank order) and posexplode the position back
        // out. A global window over the slice computes the same thing
        // but logs the moving-all-data-to-one-partition warning on
        // every run — this spelling states the boundedness instead.
        top.agg(sort_array(collect_list(
            struct((-col("n")).as("negn"), col("w")))).as("arr"))
          .select(posexplode(col("arr")).as(Seq("pos", "s")))
          .select(col("s.w").as("w"), (-col("s.negn")).as("n"),
            (col("pos") + 1).cast("bigint").as("rnk"))
    },

    // Deterministic stratified sampling: per-language keep rates
    // (downsample the dominant 'en', keep most 'zh') applied as a
    // pure hash-of-id membership test — never rand(), so the sample
    // reproduces under task retry, replay, and on any engine. A
    // map-side filter: no shuffle, no count pass.
    Q("q53_stratified_sample",
      s"""SELECT doc_id, lang
         |FROM documents
         |WHERE ${h64("CAST(doc_id AS VARCHAR)")} % 1000000 <
         |  CASE lang WHEN 'en' THEN 300000 WHEN 'zh' THEN 800000
         |            ELSE 500000 END""".stripMargin) {
      (s, d) =>
        graft.ops.Sampling.stratifiedSample(
          table(s, d, "documents"), "lang", "doc_id",
          rates = Map("en" -> 0.3, "zh" -> 0.8), defaultRate = 0.5)
          .select("doc_id", "lang")
    },

    // Per-language length percentiles + threshold filter: the corpus
    // curation move "drop the shortest quartile per language".
    // Percentiles here are EXACT (linear interpolation at (n−1)·p —
    // the same definition as DuckDB's quantile_cont), which makes the
    // query oracle-verifiable; the per-group buffering of exact
    // percentile is the at-sf trade — at 100 TB swap in
    // approx_percentile (a mergeable sketch, same plan shape, q22's
    // family). The threshold table is one row per language (bounded
    // by construction), so the filter join broadcasts.
    Q("q54_length_percentiles",
      """WITH q AS (SELECT doc_id, lang, len(string_split(text,' ')) AS n_tok
        |           FROM documents),
        |thr AS (SELECT lang,
        |          quantile_cont(n_tok, 0.25) AS p25,
        |          quantile_cont(n_tok, 0.50) AS p50,
        |          quantile_cont(n_tok, 0.90) AS p90
        |        FROM q GROUP BY lang),
        |kept AS (SELECT q.lang, count(*) AS n_kept
        |         FROM q JOIN thr ON q.lang = thr.lang
        |         WHERE q.n_tok >= thr.p25 GROUP BY q.lang)
        |SELECT thr.lang, round(p25, 4) AS p25, round(p50, 4) AS p50,
        |       round(p90, 4) AS p90, n_kept
        |FROM thr JOIN kept ON thr.lang = kept.lang""".stripMargin) {
      (s, d) =>
        val q = docsHeavy(s, d)
          .select(col("doc_id"), col("lang"),
            size(Dedup.tokens(col("text"))).cast("bigint").as("n_tok"))
        val thr = q.groupBy("lang").agg(
          percentile(col("n_tok"), lit(0.25)).as("p25"),
          percentile(col("n_tok"), lit(0.50)).as("p50"),
          percentile(col("n_tok"), lit(0.90)).as("p90"))
        val kept = q.join(broadcast(thr.select("lang", "p25")), Seq("lang"))
          .filter(col("n_tok") >= col("p25"))
          .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        thr.join(kept, Seq("lang"))
          .select(col("lang"), round(col("p25"), 4).as("p25"),
            round(col("p50"), 4).as("p50"), round(col("p90"), 4).as("p90"),
            col("n_kept"))
    },

    // Sliding-window chunking: 64-token windows at stride 48 (16-token
    // overlap) — the concat-and-chunk step that turns documents into
    // training windows. One map pass, no shuffle, no UDF; each chunk
    // is identified by (doc, index) and fingerprinted so downstream
    // dedup can run at chunk granularity.
    Q("q56_token_chunks",
      s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         |st AS (SELECT doc_id, ws, unnest(range(0, greatest(len(ws), 1), 48)) AS s
         |       FROM tok)
         |SELECT doc_id,
         |       CAST(s / 48 AS BIGINT) AS chunk_idx,
         |       len(ws[s+1:s+64]) AS chunk_tokens,
         |       ${h64("array_to_string(ws[s+1:s+64], ' ')")} AS chunk_fp
         |FROM st""".stripMargin) {
      (s, d) =>
        val ws = Dedup.tokens(col("text"))
        docsHeavy(s, d)
          .select(col("doc_id"), ws.as("ws"),
            explode(TextAnalysis.chunkStarts(ws, stride = 48)).as("s"))
          .select(col("doc_id"),
            (col("s") / 48).cast("bigint").as("chunk_idx"),
            size(TextAnalysis.chunkAt(col("ws"), col("s"), 64)).cast("bigint")
              .as("chunk_tokens"),
            portableHash64(concat_ws(" ",
              TextAnalysis.chunkAt(col("ws"), col("s"), 64))).as("chunk_fp"))
    },

    // Content fingerprinting: order-sensitive polynomial rolling hash
    // over the token stream + order-insensitive min token hash.
    // Identical left-to-right fold in both engines.
    Q("q38_doc_fingerprint",
      s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents)
         |SELECT doc_id,
         |  list_reduce(list_prepend(0::BIGINT, list_transform(ws, w -> ${h64("w")} % $P)),
         |              (a, b) -> (a * 31 + b) % $P) AS rolling_fp,
         |  list_min(list_transform(ws, w -> ${h64("w")})) AS min_tok_fp,
         |  len(ws) AS n_tok
         |FROM tok""".stripMargin) {
      (s, d) =>
        val ws = Dedup.tokens(col("text"))
        docsHeavy(s, d).select(
          col("doc_id"),
          TextAnalysis.rollingFingerprint(ws).as("rolling_fp"),
          array_min(transform(ws, w => portableHash64(w))).as("min_tok_fp"),
          size(ws).cast("bigint").as("n_tok"))
    },

    // Benchmark decontamination: per corpus doc, how many of its
    // distinct 3-gram shingles appear in the "eval suite" (here: the
    // first 40 tokens of every 13th doc — a benchmark carved from
    // corpus text, exactly the leak contamination checks exist to
    // catch). The eval shingle set broadcasts (benchmarks are tiny
    // against a 100 TB corpus), so every corpus shingle probes it
    // map-side; the corpus shuffles once, by doc id, for the counts.
    Q("q60_contamination",
      s"""WITH tok AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         |etok AS (SELECT string_split(array_to_string(ws[1:40],' '),' ') AS ws
         |         FROM tok WHERE doc_id % 13 = 0),
         |esh AS (SELECT list_distinct(list_transform(range(1, len(ws)-1),
         |          i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS shs
         |        FROM etok WHERE len(ws) >= 3),
         |ehash AS (SELECT DISTINCT ${h64("s")} AS h
         |          FROM (SELECT unnest(shs) AS s FROM esh)),
         |tsh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws)-1),
         |          i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS shs
         |        FROM tok WHERE len(ws) >= 3),
         |th AS (SELECT doc_id, ${h64("s")} AS h
         |       FROM (SELECT doc_id, unnest(shs) AS s FROM tsh)),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM th GROUP BY doc_id),
         |shared AS (SELECT th.doc_id, count(*) AS n_shared
         |           FROM th SEMI JOIN ehash ON th.h = ehash.h GROUP BY th.doc_id)
         |SELECT tot.doc_id, n_shingles, coalesce(n_shared, 0) AS n_shared,
         |       CASE WHEN coalesce(n_shared, 0) * 100 >= n_shingles * 10
         |            THEN 1 ELSE 0 END AS contaminated
         |FROM tot LEFT JOIN shared ON tot.doc_id = shared.doc_id""".stripMargin) {
      (s, d) =>
        val docs = docsHeavy(s, d).select("doc_id", "text")
        val evalDocs = docs.filter(col("doc_id") % 13 === 0)
          .select(col("doc_id"),
            array_join(slice(Dedup.tokens(col("text")), 1, 40), " ").as("text"))
        // Corpus side (the 100 TB side) explodes the persisted shingle
        // index; only the tiny carved eval suite shingles from text.
        Dedup.contaminationStatsFromHashes(
          Indexes.shingles(s, d)
            .select(col("doc_id"), explode(col("__hs")).as("__h")),
          evalDocs, "doc_id", "text")
    },

    // Sequence packing: documents laid head-to-tail into 256-token
    // training sequences per language — each doc's start sequence and
    // offset via one prefix-sum window (a single shuffle; the
    // production group key is a composite shard, Packing scaladoc).
    // Counts here are whitespace tokens (the operator demo); the
    // production counter is the TRAINED tokenizer — a drop-in column
    // swap, demonstrated end-to-end by q101's budget composition.
    Q("q62_seq_packing",
      """WITH t AS (SELECT doc_id, lang, len(string_split(text,' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, lang, n_tok,
        |        sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS start_off
        |      FROM t)
        |SELECT doc_id, lang, n_tok,
        |       CAST(start_off // 256 AS BIGINT) AS seq_id,
        |       CAST(start_off % 256 AS BIGINT) AS seq_off
        |FROM c""".stripMargin) {
      (s, d) =>
        graft.ops.Packing.packSequences(
          table(s, d, "documents").select("doc_id", "lang", "text"),
          "lang", "doc_id", size(Dedup.tokens(col("text"))), capacity = 256)
          .select("doc_id", "lang", "n_tok", "seq_id", "seq_off")
    },

    // Rare-token-ratio quality gate: the share of a document's tokens
    // that are corpus-rare (document frequency ≤ 2) — the
    // OOV/gibberish signal CCNet-style pipelines get from LM
    // perplexity, formulated in EXACT integer space instead: a float
    // log-prob would hang cross-engine agreement on libm ulp behavior
    // (the q64 idf lesson), while counts and a cross-multiplied
    // integer compare (n_rare·10 < n_tokens, i.e. <10% rare) are
    // hash-stable by construction. Reads the persisted tf index, df
    // derives FROM tf, and the term join is salted 16 ways like q64
    // (a stopword's tf rows would otherwise pile one shuffle
    // partition).
    Q("q83_rare_token_ratio",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS dfreq FROM tf GROUP BY w)
        |SELECT tf.doc_id,
        |       CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN df.dfreq <= 2 THEN tf.tf ELSE 0 END) AS BIGINT) AS n_rare,
        |       CAST(CASE WHEN sum(CASE WHEN df.dfreq <= 2 THEN tf.tf ELSE 0 END) * 10
        |                      < sum(tf.tf) THEN 1 ELSE 0 END AS INT) AS quality_ok
        |FROM tf JOIN df ON tf.w = df.w
        |GROUP BY tf.doc_id""".stripMargin) {
      (s, d) =>
        val tf = Indexes.termFrequencies(s, d)
        val dfreq = tf.groupBy("w").agg(count(lit(1)).as("dfreq"))
        // Blanket salt (hot-key variant measured slower — the
        // LmScore.bigramNll note: r15 sf10 A/B 2.54 → 3.85 s).
        graft.ops.Skew.saltedJoin(tf, dfreq, "w", saltBy = col("doc_id"), salts = 16)
          .groupBy("doc_id")
          .agg(sum(col("tf")).as("n_tokens"),
            sum(when(col("dfreq") <= 2, col("tf")).otherwise(0L)).as("n_rare"))
          .withColumn("quality_ok",
            when(col("n_rare") * 10 < col("n_tokens"), 1).otherwise(0).cast("int"))
    },

    // MODEL-BASED quality filtering: a nearest-centroid classifier
    // distilled from the rule heuristic — the production curation
    // pattern (a cheap rule labels a seed set; the trained model
    // replaces the rule as the shipping filter). Everything in exact
    // scaled-integer space (Classify scaladoc): hashed-bucket token
    // counts from the persisted tf index as features, floor-divided
    // scaled centroids as bounded driver metadata, exact bigint
    // squared distances at inference, ties to the keep class. The
    // oracle replays feature extraction, BOTH class centroids, and
    // every distance comparison — training and inference under one
    // hash gate. Label rule: 20..200 tokens and stopword share ≤ 40 %
    // as exact cross-multiplied integers (5·stop ≤ 2·tokens).
    Q("q103_quality_classifier", {
      val stopList = TextAnalysis.Stopwords.map("'" + _ + "'").mkString(",")
      val B = graft.ops.Classify.NumBuckets
      val S = graft.ops.Classify.Scale
      val featCols = (0 until B).map(b =>
        s"CAST(sum(CASE WHEN ${h64("w")} % $B = $b THEN tf ELSE 0 END) AS BIGINT) AS f$b")
        .mkString(",\n         |  ")
      val centCols = (0 until B).map(b =>
        s"CAST((sum(f$b) * $S) // count(*) AS BIGINT) AS c$b").mkString(", ")
      def distE(a: String) = (0 until B).map(b =>
        s"(t.f$b * $S - $a.c$b) * (t.f$b * $S - $a.c$b)").mkString(" + ")
      val heur =
        s"""CASE WHEN len(string_split(text,' ')) BETWEEN 20 AND 200
           |        AND len(list_filter(string_split(text,' '), w -> w IN ($stopList))) * 5
           |            <= len(string_split(text,' ')) * 2
           |       THEN 1 ELSE 0 END""".stripMargin
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
         |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
         |feat AS (SELECT doc_id,
         |  $featCols
         |  FROM tf GROUP BY doc_id),
         |lab AS (SELECT doc_id, $heur AS label_heur FROM documents),
         |tr AS (SELECT f.*, l.label_heur FROM feat f JOIN lab l USING (doc_id)),
         |cpos AS (SELECT $centCols FROM tr WHERE label_heur = 1),
         |cneg AS (SELECT $centCols FROM tr WHERE label_heur = 0)
         |SELECT t.doc_id, CAST(t.label_heur AS INT) AS label_heur,
         |  CAST(CASE WHEN ${distE("p")} <= ${distE("q")} THEN 1 ELSE 0 END AS INT) AS label_model,
         |  CAST(CASE WHEN (CASE WHEN ${distE("p")} <= ${distE("q")} THEN 1 ELSE 0 END) = t.label_heur
         |       THEN 1 ELSE 0 END AS INT) AS agree
         |FROM tr t CROSS JOIN cpos p CROSS JOIN cneg q""".stripMargin
    }) {
      (s, d) =>
        import graft.ops.Classify
        val ws = Dedup.tokens(col("text"))
        val stopCnt = TextAnalysis.stopwordCount(ws)
        val labels = table(s, d, "documents").select(col("doc_id"),
          when(size(ws).between(20, 200) && stopCnt * 5 <= size(ws) * 2, 1)
            .otherwise(0).cast("int").as("label_heur"))
        val feats = Classify.bucketFeatures(Indexes.termFrequencies(s, d), "doc_id")
        val train = feats.join(labels, Seq("doc_id"))
        val cents = Classify.centroidFit(train, "label_heur")
        Classify.centroidPredict(train, cents)
          .withColumn("agree", (col("label_model") === col("label_heur")).cast("int"))
          .select("doc_id", "label_heur", "label_model", "agree")
    },

    // LINEAR-THRESHOLD quality distillation — q103's pattern with an
    // OPTIMALLY-PLACED decision boundary (Fisher's linear-discriminant
    // recipe, public): project every doc onto the scaled
    // centroid-difference direction, then pick the 1-D cut maximizing
    // BALANCED accuracy over every candidate threshold — exact, not a
    // grid, and balanced because curation labels are heavily
    // imbalanced (the majority-constant model scores 91% raw accuracy
    // here; a hinge-descent prototype degenerated to exactly that,
    // measured, and was replaced by this). All integer: the direction
    // is centroid arithmetic, projections are bigint dot products,
    // balanced accuracy is two floor-divided scaled ratios with a
    // smallest-tau tie break. Spark runs the threshold scan as the
    // two-phase bucketed cumulative (the corpus never sorts in one
    // partition — rankNormalize's machinery, DESC); the oracle states
    // the plain global window — the q143 decomposition-proof pattern
    // over a signed projection. The oracle replays features, both
    // centroids, the direction, EVERY candidate's balanced accuracy,
    // and the argmax — training and boundary placement under one
    // hash gate. Scale shape: two fixed-width aggregates + one
    // value-grain cumulative + a map pass.
    Q("q150_linear_quality", {
      val S = graft.ops.Classify.Scale
      s"""WITH ${linearQualityCtes("")}
         |SELECT pr.doc_id, CAST(pr.label_heur AS INT) AS label_heur,
         |  CAST(CASE WHEN pr.pv >= b.tau THEN 1 ELSE 0 END AS INT) AS label_model,
         |  CAST(CASE WHEN (CASE WHEN pr.pv >= b.tau THEN 1 ELSE 0 END) = pr.label_heur
         |       THEN 1 ELSE 0 END AS INT) AS agree
         |FROM pr CROSS JOIN best b""".stripMargin
    }) {
      (s, d) =>
        val (train, w, tau) = qualityModel(s, d)
        graft.ops.Classify.thresholdPredict(train, w, tau)
          .withColumn("agree", (col("label_model") === col("label_heur")).cast("int"))
          .select("doc_id", "label_heur", "label_model", "agree")
    },

    // SUB-DOCUMENT exact dedup WITH REASSEMBLY (the C4/RefinedWeb
    // stage q79 only flags): the corpus splits into fixed 8-token
    // tiles, each tile's FIRST occurrence corpus-wide survives
    // (ordered by doc_id then position — deterministic), and every
    // document is rewritten as the join of its kept tiles. Emits the
    // cleaned text plus tile accounting, so the oracle pins the
    // rewrite itself, not just the drop decision. Shape: one explode
    // into the tile stream; first occurrence per tile via a
    // min-struct AGGREGATE (map-side combine — deliberately NOT a
    // row_number window: hot tiles are exactly the dedup target, and
    // a boilerplate tile duplicated 10^6 times would pile one window
    // partition, while partial aggregation bounds it per map task);
    // a tile-keyed join marks survivors (AQE skew-split applies);
    // one shuffle back on doc_id reassembles. At 100 TB the
    // aggregate/join key becomes the tile's 64-bit hash (8 shuffled
    // bytes instead of the string) — same plan, thinner shuffle.
    Q("q106_subdoc_dedup",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tiles AS (
        |  SELECT doc_id, j AS tile_idx,
        |         array_to_string(ws[(CAST(j AS INT)*8+1):(CAST(j AS INT)*8+8)], ' ') AS tile
        |  FROM toks, unnest(generate_series(0, CAST((len(ws)-1)//8 AS BIGINT))) AS g(j)),
        |rk AS (
        |  SELECT doc_id, tile_idx, tile,
        |         row_number() OVER (PARTITION BY tile ORDER BY doc_id, tile_idx) AS rn
        |  FROM tiles)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_tiles,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN tile END, ' ' ORDER BY tile_idx), '') AS cleaned_text
        |FROM rk GROUP BY doc_id""".stripMargin) {
      (s, d) =>
        val ws = Dedup.tokens(col("text"))
        val tiles = docsHeavy(s, d)
          .select(col("doc_id"), ws.as("ws"))
          .select(col("doc_id"),
            explode(sequence(lit(0L),
              floor((size(col("ws")) - 1) / 8).cast("long"))).as("tile_idx"),
            col("ws"))
          .select(col("doc_id"), col("tile_idx"),
            array_join(slice(col("ws"),
              (col("tile_idx") * 8 + 1).cast("int"), lit(8)), " ").as("tile"))
        val first = tiles.groupBy("tile")
          .agg(min(struct(col("doc_id"), col("tile_idx"))).as("f"))
          .select(col("tile"), col("f.doc_id").as("__fdoc"),
            col("f.tile_idx").as("__fidx"))
        tiles.join(first, Seq("tile"))
          .withColumn("__kept",
            col("doc_id") === col("__fdoc") && col("tile_idx") === col("__fidx"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tiles"),
            sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
            coalesce(
              array_join(
                transform(
                  array_sort(collect_list(
                    when(col("__kept"), struct(col("tile_idx"), col("tile"))))),
                  x => x.getField("tile")),
                " "),
              lit("")).as("cleaned_text"))
    },

    // MAXIMAL-SPAN substring dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better" — the suffix-array
    // method, re-expressed Spark-shaped): q79 flags FIXED 8-token
    // spans; this reports every maximal duplicated token RUN of
    // arbitrary length ≥ 8. Equivalence: a duplicated region of
    // length L ≥ 8 makes all L−7 of its stride-1 8-token spans
    // duplicated, so maximal runs of consecutive duplicated positions
    // recover exactly the suffix-array result (minimum match length
    // 8) — with the one composition the papers also make: a position
    // whose left half duplicates one doc and right half another still
    // chains, because every token of the run sits in SOME ≥8-token
    // duplicate. Shape: positional span stream (one normalize+explode
    // pass) → duplicated-span set from the PERSISTED span index
    // (sum of per-doc occurrence counts — no second corpus agg) →
    // hot-salted semi join marks duplicated positions (a boilerplate
    // span in 10^6 docs is a hot key BY CONSTRUCTION; the hot set is
    // the same index aggregate at a higher threshold, so detection is
    // free) → per-doc gaps-and-islands window (partition = one
    // doc's duplicated positions, bounded by doc length) → min/max
    // per run + one doc-keyed join back for the span text. The whole
    // key chain runs on the 128-bit [[SpanKey]] fingerprint — no
    // exchange carries the 8-token string. Every stage is linear in
    // corpus tokens at 100 TB.
    Q("q208_maxspan_dedup",
      s"""WITH $spanPosCtes,
         |dup AS (SELECT span FROM spans GROUP BY span HAVING count(*) >= 2),
         |hits AS (SELECT s.doc_id, s.pos FROM spans s JOIN dup USING (span)),
         |runs AS (
         |  SELECT doc_id, pos,
         |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
         |  FROM hits),
         |agg AS (
         |  SELECT doc_id, min(pos) AS sp, max(pos) - min(pos) + 8 AS sl
         |  FROM runs GROUP BY doc_id, rid)
         |SELECT a.doc_id, CAST(a.sp AS BIGINT) AS start_pos,
         |       CAST(a.sl AS BIGINT) AS span_len,
         |       array_to_string(n.t[CAST(a.sp AS INT):CAST(a.sp + a.sl - 1 AS INT)], ' ') AS span_text
         |FROM agg a JOIN norm n USING (doc_id)""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val (norm, spans0) = spanPosStream(s, d)
        // Every key-carrying frame drops the span string for the
        // 128-bit [[SpanKey]] fingerprint BEFORE its first exchange
        // (the [[withSpanKey]] collision argument): the corpus-sized
        // positional stream shuffles (doc_id, pos, h1, h2) instead of
        // the 8-token string, and the index aggregate groups by the
        // same 16-byte key.
        val spans = withSpanKey(spans0)
        val spanCounts = withSpanKey(Indexes.spanOccurrences(s, d))
          .groupBy(SpanKey.map(col): _*).agg(sum(col("occ")).as("__n"))
          .filter(col("__n") >= 2)
        val dup = spanCounts.select(SpanKey.map(col): _*)
        // Hot set = the SAME index aggregate at a higher threshold —
        // blanket salting replicated the whole duplicated-span dim
        // 16× (dim ∝ corpus boilerplate, so the replication rivals
        // the fact shuffle); only genuinely hot spans need salt.
        val hot = spanCounts
          .filter(col("__n") > graft.ops.Dedup.DefaultHotShingleCap)
          .select(SpanKey.map(col): _*)
        val hits = graft.ops.Skew.saltedJoinGivenHot(spans, dup, SpanKey,
          saltBy = col("doc_id"), salts = 16, hotKeys = hot,
          joinType = "left_semi")
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val agg = hits
          .withColumn("__rid", col("pos") - row_number().over(w))
          .groupBy("doc_id", "__rid")
          .agg(min(col("pos")).as("start_pos"),
            (max(col("pos")) - min(col("pos")) + 8).as("span_len"))
        agg.join(norm, "doc_id")
          .select(col("doc_id"), col("start_pos"), col("span_len"),
            array_join(slice(col("t"), col("start_pos").cast("int"),
              col("span_len").cast("int")), " ").as("span_text"))
    },

    // Maximal-span dedup WITH REWRITE — the q106 reassembly story at
    // arbitrary span length: every duplicated ≥8-token occurrence
    // that is NOT the corpus-wide first occurrence of its span
    // (first = smallest (doc_id, pos), the q106 min-struct survivor
    // rule) has its 8 token positions removed; each document is
    // rewritten as its surviving tokens in order. First occurrences
    // survive everywhere, so shared boilerplate keeps exactly one
    // copy corpus-wide — Lee et al.'s actual removal policy, where
    // q106 approximated it on fixed tile boundaries. Shape: ONE
    // positional span pass, REDUCED IMMEDIATELY to the duplicated
    // subset: the duplicated-span set comes from the persisted span
    // index (sum of per-doc occurrence counts — no positional agg
    // over the full stream), a hot-salted semi join keeps only
    // duplicated occurrences, and that small frame PERSISTS for its
    // two consumers (the min-struct first-occurrence aggregate and
    // the non-first cover join) — without the persist, Spark would
    // replay the corpus-wide explode once per consumer (measured
    // sf10: 147.8 → 93.6 s for this rewrite). Covered positions
    // aggregate straight into ONE per-doc int array (collect_set —
    // bounded by doc length), and the rewrite itself is a pure map
    // expression: array_except(sequence(1, n), covered) keeps
    // surviving positions in order and transform indexes the token
    // array — no token-grain rows ever shuffle. (The first cut
    // exploded every corpus token and anti-joined covered positions
    // at (doc_id, pos) grain — two corpus-sized token-row shuffles
    // plus a per-doc sorted-collect; the array expressions measured
    // sf10 146.1 → 66.0 s same-box, sf0.1 2.67 → 2.27 s; swapping
    // both span joins to the given-hot salt took the row to 51.0 s.)
    // Remaining shuffles are span- or doc-keyed and carry duplicated
    // spans or compact arrays — linear at 100 TB.
    Q("q209_maxspan_dedup_rewrite",
      s"""WITH $spanPosCtes,
         |occ AS (
         |  SELECT doc_id, pos, span,
         |         row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn,
         |         count(*) OVER (PARTITION BY span) AS cnt
         |  FROM spans),
         |cov AS (
         |  SELECT DISTINCT doc_id, pos + d AS j
         |  FROM occ, unnest(generate_series(0, 7)) AS g(d)
         |  WHERE cnt >= 2 AND rn > 1),
         |tok AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS j, t[CAST(i AS INT)] AS w
         |  FROM norm, unnest(generate_series(1, CAST(len(t) AS BIGINT))) AS g(i)),
         |kept AS (
         |  SELECT tok.doc_id, tok.j, tok.w
         |  FROM tok LEFT JOIN cov ON cov.doc_id = tok.doc_id AND cov.j = tok.j
         |  WHERE cov.j IS NULL)
         |SELECT n.doc_id, CAST(len(n.t) AS BIGINT) AS n_tokens,
         |       CAST(len(n.t) - count(k.j) AS BIGINT) AS n_removed,
         |       coalesce(string_agg(k.w, ' ' ORDER BY k.j), '') AS cleaned_text
         |FROM norm n LEFT JOIN kept k USING (doc_id)
         |GROUP BY n.doc_id, len(n.t)""".stripMargin) {
      (s, d) =>
        val (norm, spans0) = spanPosStream(s, d)
        // The whole dup-set/semi-join/cover-join chain runs on the
        // 128-bit [[SpanKey]] fingerprint — the span STRING never
        // crosses an exchange (the [[withSpanKey]] collision
        // argument); the rewrite projection below only needs (doc_id,
        // covered positions) and the doc-keyed token arrays.
        val spans = withSpanKey(spans0)
        val spanCounts = withSpanKey(Indexes.spanOccurrences(s, d))
          .groupBy(SpanKey.map(col): _*).agg(sum(col("occ")).as("__n"))
          .filter(col("__n") >= 2)
        val dup = spanCounts.select(SpanKey.map(col): _*)
        // Hot set from the same aggregate (see q208) — shared by both
        // span-keyed joins below.
        val hot = spanCounts
          .filter(col("__n") > graft.ops.Dedup.DefaultHotShingleCap)
          .select(SpanKey.map(col): _*)
        // Duplicated occurrences only, persisted: two consumers below
        // (the session's per-query clearCache releases it).
        val dupSpans = graft.ops.Skew.saltedJoinGivenHot(spans, dup, SpanKey,
            saltBy = col("doc_id"), salts = 16, hotKeys = hot,
            joinType = "left_semi")
          .persist()
        val firsts = dupSpans.groupBy(SpanKey.map(col): _*)
          .agg(min(struct(col("doc_id"), col("pos"))).as("__f"))
          .select(col("__h1"), col("__h2"), col("__f.doc_id").as("__fdoc"),
            col("__f.pos").as("__fpos"))
        val cov = graft.ops.Skew.saltedJoinGivenHot(dupSpans, firsts, SpanKey,
            saltBy = col("doc_id"), salts = 16, hotKeys = hot,
            joinType = "inner")
          .filter(!(col("doc_id") === col("__fdoc") &&
            col("pos") === col("__fpos")))
          .select(col("doc_id"),
            explode(sequence(col("pos"), col("pos") + 7)).as("j"))
          .groupBy("doc_id")
          // collect_set dedups overlapping covers; its order is
          // irrelevant — array_except preserves the LEFT (position)
          // order, so the reassembly below is deterministic.
          .agg(collect_set(col("j")).as("__cov"))
        norm.join(cov, Seq("doc_id"), "left")
          .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
            coalesce(size(col("__cov")).cast("long"), lit(0L)).as("n_removed"),
            // size(t) > 0 guard: a null text row yields size = -1, and
            // sequence(1, -1) DESCENDS through 0 where element_at
            // throws (split() never returns an empty array, so the
            // guard is latent hardening — results unchanged on any
            // non-null corpus).
            when(size(col("t")) > 0,
              array_join(
                transform(
                  array_except(
                    sequence(lit(1L), size(col("t")).cast("long")),
                    coalesce(col("__cov"),
                      array().cast("array<bigint>"))),
                  j => element_at(col("t"), j.cast("int"))),
                " ")).otherwise(lit("")).as("cleaned_text"))
    },

    // Training-example ASSEMBLY: the event log becomes one ordered
    // sequence per key — the log-to-training-sequence step of a
    // behavioral/conversational data pipeline (per-user event
    // streams, chat turns, clickstreams all assemble this way before
    // tokenization). Order inside each sequence is (ts, event_id) —
    // event_id breaks timestamp ties, so the assembled string is a
    // pure function of the data in both engines. Shape: ONE shuffle
    // on the key, then a per-key sort inside the aggregation buffer —
    // no window, no explode. A key's sequence must fit an executor
    // row; at 100 TB the group key becomes a composite (user, day)
    // shard — same operator, bounded rows, exactly like the q62
    // packing shards.
    Q("q105_sequence_assembly",
      """SELECT user_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       string_agg(event_type, '|' ORDER BY ts, event_id) AS seq
        |FROM events GROUP BY user_id""".stripMargin) {
      (s, d) =>
        table(s, d, "events")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            array_join(
              transform(
                array_sort(collect_list(
                  struct(col("ts"), col("event_id"), col("event_type")))),
                x => x.getField("event_type")),
              "|").as("seq"))
    },

    // Curation v2 — the composed release pipeline over the round's
    // new gates, as ONE lineage: token-count bounds → rare-token
    // (OOV/gibberish) gate → cross-document span-duplication gate
    // (docs that are mostly duplicated passages drop). Every signal is
    // exact integer math; the survivors ship with their gate stats.
    // Shapes: tf/df ride the persisted index with the q64 salted
    // join; the span side needs ONE explode (the per-doc span count
    // is just greatest(tokens-7, 0) — a map expression, so only the
    // duplicated-occurrence count touches the exploded stream). At
    // 100 TB the span stream lands as an index table like the shingle
    // front (same discipline, see Indexes).
    Q("q91_curation_v2",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS dfreq FROM tf GROUP BY w),
        |tstats AS (
        |  SELECT tf.doc_id, sum(tf.tf) AS n_tokens,
        |         sum(CASE WHEN df.dfreq <= 2 THEN tf.tf ELSE 0 END) AS n_rare
        |  FROM tf JOIN df ON tf.w = df.w GROUP BY tf.doc_id),
        |norm AS (
        |  SELECT doc_id,
        |         string_split(trim(regexp_replace(regexp_replace(lower(text),
        |           '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |nsp AS (SELECT doc_id, greatest(len(t) - 7, 0) AS n_spans FROM norm),
        |spans AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(t) - 6),
        |                               i -> array_to_string(t[i:i+7], ' '))) AS span
        |  FROM norm),
        |multi AS (SELECT span FROM spans GROUP BY span
        |          HAVING count(DISTINCT doc_id) >= 2),
        |nd AS (SELECT s.doc_id, count(*) AS n_dup
        |       FROM spans s JOIN multi m ON s.span = m.span GROUP BY s.doc_id)
        |SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
        |       CAST(t.n_rare AS BIGINT) AS n_rare,
        |       CAST(nsp.n_spans AS BIGINT) AS n_spans,
        |       CAST(coalesce(nd.n_dup, 0) AS BIGINT) AS n_dup
        |FROM tstats t
        |JOIN nsp ON t.doc_id = nsp.doc_id
        |LEFT JOIN nd ON t.doc_id = nd.doc_id
        |WHERE t.n_tokens BETWEEN 20 AND 400
        |  AND t.n_rare * 10 < t.n_tokens
        |  AND coalesce(nd.n_dup, 0) * 2 <= nsp.n_spans""".stripMargin) {
      (s, d) =>
        val tf = Indexes.termFrequencies(s, d)
        val dfreq = tf.groupBy("w").agg(count(lit(1)).as("dfreq"))
        // Blanket salt for the vocab-dim join (hot-key detection
        // measured slower on this dim class — LmScore.bigramNll note);
        // the SPAN join below is the corpus-scale dim and uses the
        // free given-hot form.
        val tstats = graft.ops.Skew
          .saltedJoin(tf, dfreq, "w", saltBy = col("doc_id"), salts = 16)
          .groupBy("doc_id")
          .agg(sum(col("tf")).as("n_tokens"),
            sum(when(col("dfreq") <= 2, col("tf")).otherwise(0L)).as("n_rare"))
        // Per-doc span count from the persisted token-array index —
        // the normalize pass this line used to pay (~15.7 s sf10,
        // OPTIMIZATION_r16.md) lands in [[Indexes.normTokens]] once per
        // corpus generation.
        val nsp = Indexes.normTokens(s, d)
          .select(col("doc_id"),
            greatest(size(col("t")) - 7, lit(0)).cast("bigint").as("n_spans"))
        // (doc, span, occ) from the span index — one corpus pass per
        // process; both derivations below are parquet reads, so the
        // normalize+explode scan never runs twice inside this query.
        // Every key-carrying frame runs on the 128-bit [[SpanKey]]
        // fingerprint (the [[withSpanKey]] collision argument): the
        // n_dup chain only needs per-doc occurrence sums, never the
        // span text, so no exchange moves the 8-token string.
        val occ = withSpanKey(Indexes.spanOccurrences(s, d))
        val spanDocCounts = occ.groupBy(SpanKey.map(col): _*)
          .agg(count(lit(1)).as("nd"))
          .filter(col("nd") >= 2)
        val multi = spanDocCounts.select(SpanKey.map(col): _*)
        // Hot set = the same aggregate at a higher threshold (the
        // q208/q209 discipline) — the duplicated-span dim is
        // corpus-scale, so blanket 16× replication rivals the fact
        // shuffle, and the given-hot form costs no detection pass
        // (measured r15 sf10 same-box: q91 39.7 → 23.3 s, peak heap
        // 53 → 26 GB).
        val hotSpans = spanDocCounts
          .filter(col("nd") > graft.ops.Dedup.DefaultHotShingleCap)
          .select(SpanKey.map(col): _*)
        val nDup = graft.ops.Skew
          .saltedJoinGivenHot(occ, multi, SpanKey, saltBy = col("doc_id"),
            salts = 16, hotKeys = hotSpans, joinType = "inner")
          .groupBy("doc_id").agg(sum(col("occ")).as("n_dup"))
        tstats.join(nsp, "doc_id")
          .join(nDup, Seq("doc_id"), "left")
          .na.fill(0L, Seq("n_dup"))
          .filter(col("n_tokens").between(20, 400) &&
            col("n_rare") * 10 < col("n_tokens") &&
            col("n_dup") * 2 <= col("n_spans"))
          .select("doc_id", "n_tokens", "n_rare", "n_spans", "n_dup")
    },

    // TF-IDF keyword extraction: corpus-level document frequencies
    // feeding per-doc term ranking — the classic text-feature step.
    // The idf factor is INTEGER-scaled (tf · ⌊N·10^6/df⌋) so scoring
    // and ranking are exact integer arithmetic on both engines — a
    // float ln() idf would hang cross-engine rank stability on libm
    // ulp agreement. Two hash aggregates (tf by (doc, term), df by
    // term — both map-side-combining) + one equi join + one per-doc
    // window on the scored rows.
    Q("q64_tfidf_keywords",
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents),
        |tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY doc_id, w),
        |df AS (SELECT w, count(DISTINCT doc_id) AS dfreq FROM tok GROUP BY w),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.w, tf.tf, df.dfreq,
        |         CAST(tf.tf * ((n.n_docs * 1000000) // df.dfreq) AS BIGINT) AS score
        |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN n),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                      ORDER BY score DESC, w) AS rnk FROM scored)
        |SELECT doc_id, w, CAST(tf AS BIGINT) AS tf, CAST(dfreq AS BIGINT) AS dfreq,
        |       score, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 3""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        // tf from the persisted index ([[Indexes.termFrequencies]] —
        // one tokenize pass per corpus, landed as a table). df derives
        // FROM tf: tf already holds exactly one row per (doc, term),
        // so document frequency is a plain count by term over it —
        // never a count(DISTINCT) expand over raw tokens.
        val tf = Indexes.termFrequencies(s, d)
        val dfreq = tf.groupBy("w").agg(count(lit(1)).as("dfreq"))
        // Corpus size: one scalar off a count aggregate (J9-parity
        // driver read of a 1-row frame), embedded as a literal so the
        // scoring expression stays integer-only.
        val nDocs = table(s, d, "documents").count()
        val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("w"))
        // Salted join: raw term keys are hot BY CONSTRUCTION (a
        // stopword's tf rows = every doc containing it — one shuffle
        // partition holds the whole corpus's "the"). Skew.saltedJoin
        // spreads each term across 16 deterministic sub-keys (df side
        // replicated 16×, a rounding error next to the tf shuffle) and
        // is provably row-identical to the plain join (q19's oracle),
        // so the uncapped SQL oracle stays exact. (Hot-key variant
        // measured slower: r15 sf10 A/B 3.42 → 5.11 s — the detection
        // pass beats the vocab-dim replication only when the dim is
        // corpus-scale, see the q208/q209 span joins.)
        graft.ops.Skew.saltedJoin(tf, dfreq, "w", saltBy = col("doc_id"), salts = 16)
          // `div`, not `/`: Spark's slash is double division — the
          // oracle's `//` is exact integral division, and at corpus
          // scale the float quotient can land an ulp under an integer
          // and floor one lower.
          .withColumn("score",
            col("tf") * expr(s"CAST(${nDocs * 1000000L} AS BIGINT) div dfreq"))
          .withColumn("rnk", row_number().over(w).cast("bigint"))
          .filter(col("rnk") <= 3)
          .select("doc_id", "w", "tf", "dfreq", "score", "rnk")
    },

    // Cross-source near-dup overlap: the dedup ANALYTICS view — how
    // many verified near-dup pairs link each (source, source) bucket,
    // with the jaccard range. Orders each pair's sources canonically
    // so (a,b) and (b,a) collapse; min/max over already-rounded
    // jaccards keeps the aggregate deterministic (an avg would hang
    // the hash on float summation order). Same cached-signature
    // pipeline as q31 + two source lookups + one rollup aggregate.
    Q("q65_source_overlap",
      s"""WITH $rawCorpus,
         |$shingleCtes,
         |sig AS (SELECT doc_id, hs, $mhColsSql FROM hst),
         |cand AS ($bandJoinSql),
         |pairs AS (SELECT c.d1, c.d2,
         |            round(len(list_intersect(a.hs,b.hs))::DOUBLE / len(list_distinct(a.hs||b.hs)), 6) AS jac
         |          FROM cand c JOIN sig a ON a.doc_id = c.d1 JOIN sig b ON b.doc_id = c.d2
         |          WHERE len(list_intersect(a.hs,b.hs))::DOUBLE / len(list_distinct(a.hs||b.hs)) >= $JaccardThreshold),
         |src AS (SELECT p.jac,
         |          least(da.source, db.source) AS s1,
         |          greatest(da.source, db.source) AS s2
         |        FROM pairs p JOIN documents da ON da.doc_id = p.d1
         |                     JOIN documents db ON db.doc_id = p.d2)
         |SELECT s1, s2, count(*) AS n_pairs,
         |       min(jac) AS min_jac, max(jac) AS max_jac
         |FROM src GROUP BY s1, s2""".stripMargin) {
      (s, d) =>
        val pairs = pairScores(s, d)
          // roundFrac, not round(): identical float ops to the
          // oracle's rounding, and no per-pair BigDecimal in the
          // verified-pair loop (roundFrac scaladoc).
          .withColumn("jac",
            roundFrac(col("__inter").cast("double") / col("__union"), 6))
          .filter(col("__inter").cast("double") / col("__union") >= JaccardThreshold)
          .select("d1", "d2", "jac")
        val srcLookup = table(s, d, "documents").select("doc_id", "source")
        pairs
          .join(srcLookup.select(col("doc_id").as("d1"), col("source").as("src1")), "d1")
          .join(srcLookup.select(col("doc_id").as("d2"), col("source").as("src2")), "d2")
          .select(least(col("src1"), col("src2")).as("s1"),
            greatest(col("src1"), col("src2")).as("s2"), col("jac"))
          .groupBy("s1", "s2")
          .agg(count(lit(1)).as("n_pairs"),
            min(col("jac")).as("min_jac"), max(col("jac")).as("max_jac"))
    },

    // Token-budget domain mixing: per source, keep documents in
    // deterministic hash order until the source's token budget is
    // hit — hard caps, boundary doc dropped. One prefix-sum window
    // per stratum (Sampling.tokenBudget scaladoc has the sharded
    // 100 TB spelling). Whitespace counts demo the operator; the
    // production counter is the trained tokenizer — q101 runs this
    // same operator on trained-BPE counts in one lineage.
    Q("q63_token_budget",
      s"""WITH t AS (SELECT doc_id, source, len(string_split(text,' ')) AS n_tok,
         |             ${h64("CAST(doc_id AS VARCHAR)")} % 1000000 AS k FROM documents),
         |c AS (SELECT doc_id, source, n_tok,
         |        CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY k, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
         |      FROM t)
         |SELECT doc_id, source, n_tok, cum_tok FROM c
         |WHERE cum_tok <= (CASE source WHEN 'src0' THEN 400
         |                              WHEN 'src1' THEN 1200 ELSE 700 END)""".stripMargin) {
      (s, d) =>
        graft.ops.Sampling.tokenBudget(
          table(s, d, "documents").select("doc_id", "source", "text"),
          "source", "doc_id", size(Dedup.tokens(col("text"))),
          budgets = Map("src0" -> 400L, "src1" -> 1200L), defaultBudget = 700L)
          .select("doc_id", "source", "n_tok", "cum_tok")
    },

    // The materialized signature index itself, oracle-verified: the
    // PERSISTED MinHash table every pair/cluster/incremental query
    // reads (Indexes.signatures through the TableStore sink)
    // hash-matches the inline md5→shingle→minhash pipeline computed
    // from scratch by DuckDB — pinning that persistence is
    // value-identity (bigint signatures round-trip parquet exactly),
    // so routing the query family through the index instead of
    // executor cache() changes nothing but the scan count.
    Q("q70_signature_index",
      s"""WITH $rawCorpus,
         |$shingleCtes
         |SELECT doc_id, $mhColsSql FROM hst""".stripMargin) {
      (s, d) =>
        Indexes.signatures(s, d)
          .select(col("doc_id") +:
            (0 until Dedup.NumHashes).map(i => col(s"mh$i")): _*)
    },

    // Bigram-LM fluency scoring: the n-gram language-model quality
    // signal (the CCNet/KenLM perplexity filter) in EXACT integer
    // space. Each bigram occurrence contributes the BINARY LENGTH of
    // its corpus-wide count — ⌊log2⌋+1, the integer skeleton of a
    // log-probability, computed as `length(bin(c))` identically in
    // both engines (a float log would hang the gate on libm ulps —
    // the q83 lesson). Docs whose bigrams are corpus-common score
    // high (fluent under the corpus LM); gibberish scores low. Rides
    // the persisted doc_bigrams index: corpus counts derive with one
    // sum, the count join is salted like q83's df join (a stopword
    // bigram is hot BY CONSTRUCTION), and scoring is one aggregate —
    // at 100 TB this is the tokenize pass (amortized in the index)
    // plus one narrow-key join. Raw integers out, no baked-in
    // threshold: the harness corpus draws from one small vocabulary,
    // so every bigram is common (bits/bigram spans just 5.07–5.71 at
    // sf0.01) and any fixed cut would be degenerate there —
    // consumers threshold against their own corpus distribution.
    Q("q111_bigram_lm_score",
      """WITH bgr AS (
        |  SELECT doc_id, words[CAST(i AS INT)] || ' ' || words[CAST(i AS INT)+1] AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |       unnest(generate_series(1, len(words)-1)) AS g(i)),
        |bf AS (SELECT doc_id, bg, count(*) AS tf FROM bgr GROUP BY 1, 2),
        |cnt AS (SELECT bg, sum(tf) AS c FROM bf GROUP BY bg),
        |sc AS (
        |  SELECT bf.doc_id, CAST(sum(bf.tf) AS BIGINT) AS n_bigrams,
        |         CAST(sum(length(bin(cnt.c)) * bf.tf) AS BIGINT) AS lm_score
        |  FROM bf JOIN cnt USING (bg) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       CAST(coalesce(sc.lm_score, 0) AS BIGINT) AS lm_score
        |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin) {
      (s, d) =>
        // The whole count+salted-join+fold subtree is the persisted
        // [[Indexes.docLmScores]] table (r16: the identical aggregate
        // was recomputed here and in the q133/q145 CCNet chain).
        val scored = Indexes.docLmScores(s, d)
        table(s, d, "documents").select("doc_id")
          .join(scored, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("lm_score"), lit(0L)).as("lm_score"))
    },

    // REAL-perplexity scoring — the float log-prob path next to q111's
    // integer skeleton, under the lossy-codec gate discipline (q109/
    // q147): the declared output is the ORACLE-EXACT conditional
    // skeleton (bits(cp(w1)) − bits(c(bg)) per occurrence — the
    // integer shadow of −log2 p(w2|w1)) plus a flag pinning the float
    // NLL within a PROVABLE bound of it: each log2 x differs from
    // bits(x) by exactly its fractional part, the two ⌊·⌋+1 offsets
    // cancel, so |nll − skel| < n_bigrams holds as exact arithmetic —
    // a wrong float formula (missing tf weight, wrong denominator,
    // natural log) blows the bound and hash-mismatches the row. The
    // float arithmetic itself is spec-gated against a naive Scala fold
    // (LmScoreSpec). Same scale shape as q111: persisted doc_bigrams
    // index, vocabulary-sized count/prefix aggregates, salted hot-key
    // joins, one per-doc aggregate.
    Q("q159_float_perplexity",
      """WITH bgr AS (
        |  SELECT doc_id, words[CAST(i AS INT)] || ' ' || words[CAST(i AS INT)+1] AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |       unnest(generate_series(1, len(words)-1)) AS g(i)),
        |bf AS (SELECT doc_id, bg, count(*) AS tf FROM bgr GROUP BY 1, 2),
        |cnt AS (SELECT bg, sum(tf) AS c FROM bf GROUP BY bg),
        |pfx AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c) AS cp
        |        FROM cnt GROUP BY 1),
        |sc AS (
        |  SELECT bf.doc_id, CAST(sum(bf.tf) AS BIGINT) AS n_bigrams,
        |         CAST(sum((length(bin(p.cp)) - length(bin(cnt.c))) * bf.tf)
        |              AS BIGINT) AS skel_bits
        |  FROM bf JOIN cnt USING (bg)
        |       JOIN pfx p ON p.w1 = string_split(bf.bg, ' ')[1]
        |  GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(sc.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |       CAST(coalesce(sc.skel_bits, 0) AS BIGINT) AS skel_bits,
        |       1 AS ppx_ok
        |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin) {
      (s, d) =>
        val nll = graft.ops.LmScore.bigramNll(Indexes.bigramFrequencies(s, d))
        table(s, d, "documents").select("doc_id")
          .join(nll, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("skel_bits"), lit(0L)).as("skel_bits"),
            coalesce(col("nll_bits"), lit(0.0)).as("nll_bits"))
          .select(col("doc_id"), col("n_bigrams"), col("skel_bits"),
            graft.ops.LmScore.nllWithinBound(
              col("nll_bits"), col("skel_bits"), col("n_bigrams"))
              .cast("int").as("ppx_ok"))
    },

    // Deterministic shard assignment: the corpus-assembly endgame —
    // a stable pseudo-random shuffle (md5 order, id tie-break) cut
    // into fixed-size training shards a data loader streams. The
    // declared Spark plan is the SCALE shape (Sampling
    // .shardAssignment: 256 key-prefix buckets whose lexicographic
    // order IS the key order; bounded bucket counts prefix-sum into
    // exact offsets; ONE window partitioned by bucket — never a
    // single global sort partition); the oracle is the naive global
    // row_number over the same order, so the green row is machine
    // proof the two-phase decomposition equals the global sort
    // row-for-row.
    Q("q112_shard_assignment",
      """WITH k AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS k FROM documents),
        |p AS (SELECT doc_id,
        |        CAST(row_number() OVER (ORDER BY k, doc_id) - 1 AS BIGINT) AS pos
        |      FROM k)
        |SELECT doc_id, pos, pos // 64 AS shard, pos % 64 AS pos_in_shard
        |FROM p""".stripMargin) {
      (s, d) =>
        graft.ops.Sampling.shardAssignment(
          table(s, d, "documents").select("doc_id"), "doc_id", shardSize = 64L)
          .select("doc_id", "pos", "shard", "pos_in_shard")
    },

    // Temperature-scaled mixture resampling with DERIVED weights: the
    // domain-rebalancing step where the mixture is computed from the
    // corpus, not hand-written — per-language token totals →
    // weight = isqrt(tokens) (temperature α = 1/2, INTEGER-exact via
    // a two-sided correction of floor(hardware sqrt)) → the global
    // token budget split ∝ weight (integer div) → per-doc copies via
    // the q59 floor + hash-threshold ppm scheme. Contrast q59/q63,
    // whose factors/budgets are caller literals. One bounded
    // aggregate + a broadcast of the (≤ |langs|)-row rate table back
    // onto the corpus + a map-side explode; the oracle replays the
    // entire derivation — totals, isqrt, allocation, membership — in
    // the same integer space.
    Q("q114_mixture_resample",
      s"""WITH t AS (SELECT doc_id, lang, len(string_split(text,' ')) AS n_tok,
         |             ${h64("CAST(doc_id AS VARCHAR)")} % 1000000 AS k FROM documents),
         |agg AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tot
         |        FROM t GROUP BY lang HAVING sum(n_tok) > 0),
         |w AS (SELECT lang, tot,
         |        CASE WHEN (s0+1)*(s0+1) <= tot THEN s0+1
         |             WHEN s0*s0 > tot THEN s0-1 ELSE s0 END AS wt
         |      FROM (SELECT lang, tot,
         |              CAST(floor(sqrt(CAST(tot AS DOUBLE))) AS BIGINT) AS s0
         |            FROM agg)),
         |r AS (SELECT lang, tot,
         |        (100000 * wt) // (SELECT CAST(sum(wt) AS BIGINT) FROM w) AS target_tok
         |      FROM w),
         |p AS (SELECT lang, tot, target_tok,
         |        (target_tok * 1000000) // tot AS ppm FROM r),
         |base AS (SELECT t.doc_id, t.lang, t.n_tok, p.target_tok, p.ppm,
         |           (p.ppm // 1000000)
         |           + (CASE WHEN t.k < (p.ppm % 1000000) THEN 1 ELSE 0 END) AS n
         |         FROM t JOIN p USING (lang))
         |SELECT doc_id, lang, n_tok, target_tok, ppm,
         |       unnest(range(1, n + 1)) AS copy_idx
         |FROM base""".stripMargin) {
      (s, d) =>
        graft.ops.Sampling.mixtureResample(
          table(s, d, "documents").select("doc_id", "lang", "text"),
          "lang", "doc_id", size(Dedup.tokens(col("text"))), budget = 100000L)
          .select("doc_id", "lang", "n_tok", "target_tok", "ppm", "copy_idx")
    },

    // Per-language rank normalization (percent-rank in ppm): quality
    // scores are only comparable across languages after each
    // language's scores map onto [0, 10⁶] by rank — then ONE global
    // threshold means the same thing in every stratum. The DECLARED
    // Spark plan is the scale shape (Sampling.rankNormalize: 256
    // monotone equal-width score buckets per stratum, bounded bucket
    // counts prefix-summed into exact offsets, ONE window partitioned
    // by (stratum, bucket) — never a stratum-global sort partition);
    // the oracle is the naive global row_number per language, so the
    // green row is machine proof the two-phase decomposition equals
    // the global sort row-for-row — the q112 proof pattern applied
    // to VALUE order.
    Q("q117_rank_normalize",
      """WITH t AS (SELECT doc_id, lang,
        |             CAST(len(string_split(text,' ')) AS BIGINT) AS score
        |           FROM documents),
        |r AS (SELECT doc_id, lang, score,
        |        CAST(row_number() OVER (PARTITION BY lang
        |               ORDER BY score, doc_id) - 1 AS BIGINT) AS rnk,
        |        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |      FROM t)
        |SELECT doc_id, lang, score, rnk,
        |       (rnk * 1000000) // greatest(n - 1, 1) AS pct_ppm
        |FROM r""".stripMargin) {
      (s, d) =>
        graft.ops.Sampling.rankNormalize(
          table(s, d, "documents").select("doc_id", "lang", "text"),
          "lang", "doc_id", size(Dedup.tokens(col("text"))))
          .select("doc_id", "lang", "score", "rnk", "pct_ppm")
    },

    // Shingle novelty scoring: per document, the ppm fraction of its
    // distinct 3-gram shingles whose FIRST corpus occurrence (min doc
    // id) is this document — the curation signal that flags template/
    // boilerplate-heavy documents even when no pair crosses a
    // near-dup threshold. The declared plan is deliberately JOIN-FREE
    // on the shingle key (the skew magnet): two independent
    // aggregates — min(doc_id) per shingle re-grouped by that
    // minimum, and per-doc distinct-shingle counts — meet in a
    // narrow join on doc id; hot shingles partial-agg map-side. Both
    // aggregates read the PERSISTED shingle index (the q70
    // discipline: the tokenize+md5 pass never re-runs per consumer —
    // or per aggregate: the two exchanges differ, so an inline
    // lineage would compute it twice); the oracle replays the same
    // hash-space counting from scratch.
    Q("q118_shingle_novelty",
      s"""WITH $rawCorpus,
         |$shingleCtes,
         |ex AS (SELECT doc_id, unnest(hs) AS h FROM hst),
         |f AS (SELECT h, min(doc_id) AS doc_id FROM ex GROUP BY h),
         |nv AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_novel FROM f GROUP BY doc_id),
         |ns AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM ex GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(ns.n_shingles, 0) AS BIGINT) AS n_shingles,
         |       CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
         |       (CAST(coalesce(nv.n_novel, 0) AS BIGINT) * 1000000)
         |         // greatest(CAST(coalesce(ns.n_shingles, 0) AS BIGINT), 1)
         |         AS novelty_ppm
         |FROM documents d
         |LEFT JOIN ns ON ns.doc_id = d.doc_id
         |LEFT JOIN nv ON nv.doc_id = d.doc_id""".stripMargin) {
      (s, d) =>
        Dedup.shingleNoveltyFromHashes(
            table(s, d, "documents").select("doc_id"),
            Indexes.shingles(s, d).select("doc_id", "__hs"), "doc_id")
          .select("doc_id", "n_shingles", "n_novel", "novelty_ppm")
    },

    // INCREMENTAL novelty: a new document batch (the last 20 % of the
    // id space — the q43/q108/q113 watermark pattern) scored against
    // the PERSISTED corpus shingle index: per batch doc, the ppm
    // fraction of its shingles absent from the existing corpus — the
    // "how much new content does this crawl actually add" admission
    // signal. Per-batch work ∝ batch × shingles-per-doc plus one
    // distinct over the index; the membership join is SALTED (a
    // boilerplate shingle hash is a hot key by construction — the
    // q111 discipline), and novelty attributes to every carrying doc,
    // which is why this one needs the join q118's full-corpus variant
    // avoids.
    Q("q119_incremental_novelty",
      s"""WITH $rawCorpus,
         |$shingleCtes,
         |ex AS (SELECT doc_id, unnest(hs) AS h FROM hst),
         |cut AS (SELECT max(doc_id) * 4 // 5 AS c FROM documents),
         |known AS (SELECT DISTINCT h FROM ex WHERE doc_id < (SELECT c FROM cut)),
         |b AS (SELECT doc_id, h FROM ex WHERE doc_id >= (SELECT c FROM cut)),
         |j AS (SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |        CAST(sum(CASE WHEN k.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
         |      FROM b LEFT JOIN known k ON k.h = b.h GROUP BY b.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(j.n_shingles, 0) AS BIGINT) AS n_shingles,
         |       CAST(coalesce(j.n_new, 0) AS BIGINT) AS n_new,
         |       (CAST(coalesce(j.n_new, 0) AS BIGINT) * 1000000)
         |         // greatest(CAST(coalesce(j.n_shingles, 0) AS BIGINT), 1)
         |         AS novelty_ppm
         |FROM documents d LEFT JOIN j ON j.doc_id = d.doc_id
         |WHERE d.doc_id >= (SELECT c FROM cut)""".stripMargin) {
      (s, d) =>
        val docsT = table(s, d, "documents")
        val maxId = docsT.agg(max(col("doc_id")).cast("long")).head().getLong(0)
        val cutoff = maxId * 4 / 5
        val ex = Indexes.shingles(s, d)
          .select(col("doc_id"), explode(col("__hs")).as("h"))
        val known = ex.filter(col("doc_id") < cutoff)
          .select("h").distinct().withColumn("__known", lit(1))
        val flagged = graft.ops.Skew.saltedJoin(
          ex.filter(col("doc_id") >= cutoff), known, "h",
          saltBy = col("doc_id"), salts = 16, joinType = "left")
        val j = flagged.groupBy("doc_id").agg(
          count(lit(1)).as("n_shingles"),
          sum(when(col("__known").isNull, 1L).otherwise(0L)).as("n_new"))
        docsT.select("doc_id").filter(col("doc_id") >= cutoff)
          .join(j, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
            coalesce(col("n_new"), lit(0L)).as("n_new"))
          .withColumn("novelty_ppm",
            expr("(n_new * 1000000) div greatest(n_shingles, 1)"))
    },

    // PPS systematic sampling: pick every document whose token
    // interval, in deterministic hash order, contains a multiple of
    // step — inclusion probability ∝ document size ("sample every
    // 500th TOKEN's containing document"), the standard eval-set /
    // inspection-sample primitive. Contrast q63 (uniform hash-prefix
    // to a budget cap): PPS weights by size. 32 hash shards, each an
    // independent prefix-sum window — no shard ever sorts more than
    // ~1/32 of the corpus in one partition; all counting is integer
    // with max(x,0) guards so no negative ever reaches a division
    // (Spark div truncates, DuckDB // floors — they agree only on
    // non-negatives).
    Q("q120_pps_sample",
      s"""WITH t AS (SELECT doc_id,
         |             CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
         |             ${h64("CAST(doc_id AS VARCHAR)")} % 1000000 AS k FROM documents),
         |c AS (SELECT doc_id, n_tok, k % 32 AS shard,
         |        CAST(sum(n_tok) OVER (PARTITION BY k % 32 ORDER BY k, doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tok
         |      FROM t),
         |h AS (SELECT doc_id, n_tok, shard, cum_tok,
         |        greatest(cum_tok - 1, 0) // 500
         |          - greatest(cum_tok - n_tok - 1, 0) // 500 AS n_hits
         |      FROM c)
         |SELECT doc_id, n_tok, shard, cum_tok, n_hits
         |FROM h WHERE n_hits >= 1""".stripMargin) {
      (s, d) =>
        graft.ops.Sampling.ppsSample(
          table(s, d, "documents").select("doc_id", "text"),
          "doc_id", size(Dedup.tokens(col("text"))), step = 500L)
          .select("doc_id", "n_tok", "shard", "cum_tok", "n_hits")
    },

    // Curation v3 — the round-10 signals composed into one recipe:
    // per-language rank normalization of the quality proxy (q117's
    // two-phase machinery), a global top-40 % keep threshold that now
    // MEANS the same thing in every language (pct_ppm ≥ 600000), then
    // derived-weight temperature mixture resampling of the survivors
    // to a 50k-token budget (q114's machinery, re-deriving totals
    // over the FILTERED corpus). One lineage on the Spark side; the
    // oracle replays the full chain — ranks, threshold, totals,
    // isqrt, allocation, membership — in the same integer space.
    Q("q121_curation_v3",
      s"""WITH t AS (SELECT doc_id, lang,
         |             CAST(len(string_split(text,' ')) AS BIGINT) AS score,
         |             ${h64("CAST(doc_id AS VARCHAR)")} % 1000000 AS k FROM documents),
         |r AS (SELECT doc_id, lang, score, k,
         |        CAST(row_number() OVER (PARTITION BY lang
         |               ORDER BY score, doc_id) - 1 AS BIGINT) AS rnk,
         |        CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
         |      FROM t),
         |kept AS (SELECT doc_id, lang, score AS n_tok, k,
         |           (rnk * 1000000) // greatest(n - 1, 1) AS pct_ppm
         |         FROM r
         |         WHERE (rnk * 1000000) // greatest(n - 1, 1) >= 600000),
         |agg AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS tot
         |        FROM kept GROUP BY lang HAVING sum(n_tok) > 0),
         |w AS (SELECT lang, tot,
         |        CASE WHEN (s0+1)*(s0+1) <= tot THEN s0+1
         |             WHEN s0*s0 > tot THEN s0-1 ELSE s0 END AS wt
         |      FROM (SELECT lang, tot,
         |              CAST(floor(sqrt(CAST(tot AS DOUBLE))) AS BIGINT) AS s0
         |            FROM agg)),
         |p AS (SELECT lang, tot,
         |        (50000 * wt) // (SELECT CAST(sum(wt) AS BIGINT) FROM w) AS target_tok
         |      FROM w),
         |pp AS (SELECT lang, tot, target_tok,
         |         (target_tok * 1000000) // tot AS ppm FROM p),
         |base AS (SELECT kept.doc_id, kept.lang, kept.n_tok, kept.pct_ppm,
         |           pp.target_tok, pp.ppm,
         |           (pp.ppm // 1000000)
         |           + (CASE WHEN kept.k < (pp.ppm % 1000000) THEN 1 ELSE 0 END) AS cnt
         |         FROM kept JOIN pp USING (lang))
         |SELECT doc_id, lang, n_tok, pct_ppm, target_tok, ppm,
         |       unnest(range(1, cnt + 1)) AS copy_idx
         |FROM base""".stripMargin) {
      (s, d) =>
        val ranked = graft.ops.Sampling.rankNormalize(
          table(s, d, "documents").select("doc_id", "lang", "text"),
          "lang", "doc_id", size(Dedup.tokens(col("text"))))
        val kept = ranked.filter(col("pct_ppm") >= 600000L)
          .select(col("doc_id"), col("lang"), col("score"), col("pct_ppm"))
        graft.ops.Sampling.mixtureResample(kept, "lang", "doc_id",
            col("score"), budget = 50000L)
          .select("doc_id", "lang", "n_tok", "pct_ppm", "target_tok",
            "ppm", "copy_idx")
    },

    // STREAMING mixture-stat maintenance: the q114 rate derivation
    // fed by a running streaming aggregate instead of a batch scan —
    // per-language document and token totals maintained across
    // micro-batch triggers (2 multi-file triggers over a staged
    // arrival log, the q99 replay shape), with the temperature
    // allocation derived from the FINAL state by the same
    // integer-exact machinery (Sampling.mixtureRates). The oracle is
    // the batch derivation over the full corpus: a green row is
    // machine proof the incremental running totals fold to exactly
    // the batch answer whatever the batch boundaries were — the
    // mixture recipe can ride a live ingest feed. At 100 TB the
    // streaming agg state is |langs| rows per executor shard; the
    // rate math is bounded post-processing.
    Q("q122_stream_mixture_stats",
      """WITH agg AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |               CAST(sum(len(string_split(text,' '))) AS BIGINT) AS tot
        |             FROM documents GROUP BY lang
        |             HAVING sum(len(string_split(text,' '))) > 0),
        |w AS (SELECT lang, n_docs, tot,
        |        CASE WHEN (s0+1)*(s0+1) <= tot THEN s0+1
        |             WHEN s0*s0 > tot THEN s0-1 ELSE s0 END AS wt
        |      FROM (SELECT lang, n_docs, tot,
        |              CAST(floor(sqrt(CAST(tot AS DOUBLE))) AS BIGINT) AS s0
        |            FROM agg))
        |SELECT lang, n_docs, tot, wt,
        |       (100000 * wt) // (SELECT CAST(sum(wt) AS BIGINT) FROM w) AS target_tok,
        |       ((100000 * wt) // (SELECT CAST(sum(wt) AS BIGINT) FROM w) * 1000000)
        |         // tot AS ppm
        |FROM w""".stripMargin) {
      (s, d) =>
        val docs = table(s, d, "documents").select(col("doc_id"), col("lang"),
          size(Dedup.tokens(col("text"))).cast("bigint").as("n_tok"))
        val scratch = java.nio.file.Files.createTempDirectory("graft_q122")
        val staging = s"$scratch/docs"
        docs.repartitionByRange(4, col("doc_id")).write.parquet(staging)
        val stream = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 2).parquet(staging)
        val agg = stream.groupBy(col("lang")).agg(
          count(lit(1)).as("n_docs"), sum(col("n_tok")).cast("bigint").as("tot"))
        val sinkName = "q122_stream_mixture_sink"
        s.catalog.dropTempView(sinkName)
        val q = agg.writeStream.format("memory").queryName(sinkName)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        // awaitTermination returns FALSE on timeout without throwing —
        // unchecked, a timed-out stream would yield rates derived from
        // the completed triggers only: plausible-looking, silently
        // wrong. Fail loudly instead.
        try require(q.awaitTermination(300000),
          "q122: stream did not drain within 300s — partial totals")
        finally q.stop()
        // The staged arrival log only feeds the stream; the memory
        // sink holds the result, so the scratch copy can go now
        // (unlike q99, whose RESULT lives in its scratch store).
        org.apache.commons.io.FileUtils.deleteDirectory(scratch.toFile)
        graft.ops.Sampling.mixtureRates(s.table(sinkName), "lang",
            budget = 100000L)
          .select("lang", "n_docs", "tot", "wt", "target_tok", "ppm")
    },

    // Robust outlier gate: median absolute deviation per source —
    // the heavy-tail-safe alternative to 3σ (a handful of giant
    // documents drags a mean+stddev gate far enough that real
    // outliers pass; the median and MAD don't move). Everything
    // integer-exact: median = the ((n−1) div 2)-th order statistic
    // under the (value, id) total order — selected by rank, not
    // interpolated — and the flag is an integer compare
    // (dev > 3·mad). Both order statistics come from
    // Sampling.rankNormalize's two-phase machinery, so no source is
    // ever sorted in one partition; the med/mad frames are bounded
    // (one row per source) and broadcast back. The oracle replays
    // both rank selections with naive windows.
    Q("q128_mad_outliers",
      """WITH t AS (SELECT doc_id, source,
        |             CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |r1 AS (SELECT *,
        |         CAST(row_number() OVER (PARTITION BY source
        |                ORDER BY n_tok, doc_id) - 1 AS BIGINT) AS rnk,
        |         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |       FROM t),
        |med AS (SELECT source, n_tok AS med FROM r1 WHERE rnk = (n - 1) // 2),
        |d AS (SELECT t.doc_id, t.source, t.n_tok, m.med,
        |        abs(t.n_tok - m.med) AS dev
        |      FROM t JOIN med m USING (source)),
        |r2 AS (SELECT *,
        |         CAST(row_number() OVER (PARTITION BY source
        |                ORDER BY dev, doc_id) - 1 AS BIGINT) AS rnk,
        |         CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |       FROM d),
        |mad AS (SELECT source, dev AS mad FROM r2 WHERE rnk = (n - 1) // 2)
        |SELECT d.doc_id, d.source, d.n_tok, d.med, md.mad AS mad,
        |       CAST(CASE WHEN d.dev > 3 * md.mad THEN 1 ELSE 0 END AS INT)
        |         AS outlier
        |FROM d JOIN mad md USING (source)""".stripMargin) {
      (s, d) =>
        import graft.ops.Sampling
        // The (doc_id, source, n_tok) frame is the persisted
        // [[Indexes.docTokens]] index (identical definition — one
        // whitespace split per corpus generation); this lineage
        // references it THREE times (both order-statistic rank passes
        // + the final dev projection), so each reference being a
        // 3-column parquet read instead of a corpus re-tokenize is
        // the r16 cut (6.5 → ~1 s sf10).
        val docs = Indexes.docTokens(s, d)
          .select(col("doc_id"), col("source"), col("n_tok"))
        def orderStat(df: org.apache.spark.sql.DataFrame,
                      scoreCol: org.apache.spark.sql.Column) = {
          val r = Sampling.rankNormalize(df, "source", "doc_id", scoreCol)
          val n = r.groupBy("source").agg(count(lit(1)).as("n"))
          r.join(broadcast(n), Seq("source"))
            .filter(col("rnk") === expr("(n - 1) div 2"))
            .select(col("source"), col("score"))
        }
        val med = orderStat(docs, col("n_tok"))
          .withColumnRenamed("score", "med")
        val withDev = docs.join(broadcast(med), Seq("source"))
          .withColumn("dev", abs(col("n_tok") - col("med")))
        val mad = orderStat(withDev, col("dev"))
          .withColumnRenamed("score", "mad")
        withDev.join(broadcast(mad), Seq("source"))
          .select(col("doc_id"), col("source"), col("n_tok"), col("med"),
            col("mad"),
            when(col("dev") > lit(3) * col("mad"), 1).otherwise(0)
              .cast("int").as("outlier"))
    },

    // MULTIMODAL joint dedup clusters: a document pair is a duplicate
    // when ANY modality says so — text (jaccard-verified MinHash
    // pairs), image (phash Hamming ≤ 3), or audio (fingerprint
    // Hamming ≤ 3) — and connected components run over the UNION of
    // the three edge sets. This is the policy a real multimodal
    // corpus dedups under (re-encoded images and re-recorded audio
    // evade text similarity and vice versa); the machinery is
    // entirely reused: all three edge sets come from persisted
    // indexes, and the same adaptive CC resolves the union. Oracle:
    // the three pair formulations unioned into one recursive closure
    // — the text half IS the shared componentCtes text, the media
    // halves the shared PhashCtes/audioFpCtes, so no formulation
    // forks.
    Q("q127_multimodal_clusters",
      s"""WITH RECURSIVE $rawCorpus,
         |$shingleCtes,
         |sig AS (SELECT doc_id, hs, $mhColsSql FROM hst),
         |cand AS ($bandJoinSql),
         |$componentCtes,
         |${MultimodalQueries.PhashCtes},
         |${MultimodalQueries.audioFpCtes("a")},
         |allp AS (SELECT d1, d2 FROM pairs
         |         UNION SELECT a.doc_id AS d1, b.doc_id AS d2
         |               FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |               WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |         UNION SELECT a.doc_id AS d1, b.doc_id AS d2
         |               FROM afp a JOIN afp b ON a.doc_id < b.doc_id
         |               WHERE bit_count(xor(a.afp, b.afp)) <= 3),
         |msym AS (SELECT d1 AS src, d2 AS dst FROM allp
         |         UNION SELECT d2, d1 FROM allp),
         |mreach AS (
         |  SELECT src, dst FROM msym
         |  UNION
         |  SELECT r.src, e.dst FROM mreach r JOIN msym e ON r.dst = e.src),
         |mcomp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
         |          FROM mreach GROUP BY src)
         |SELECT c.component, c.doc_id,
         |       count(*) OVER (PARTITION BY c.component) AS cluster_size
         |FROM mcomp c""".stripMargin) {
      (s, d) =>
        // All three edge sets from persisted pair indexes (text was
        // already; r16 lands the media pair joins in the registry too
        // — measured, they were 24.5 s of this row's 32.6 s sf10, re-
        // paired per consumer; see Indexes.imagePhashPairs).
        val text = verifiedPairs(s, d).select("d1", "d2")
        val img = Indexes.imagePhashPairs(s, d).select("d1", "d2")
        val aud = Indexes.audioFpPairs(s, d).select("d1", "d2")
        val edges = text.unionByName(img).unionByName(aud)
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
        Dedup.connectedComponents(edges)
          .select(col("component"), col("id").as("doc_id"))
          .withColumn("cluster_size", count(lit(1)).over(w))
    },

    // Count-min sketch heavy hitters: bounded-memory frequency
    // estimation — 4 hash rows × 1024 counters (32 KB of state for
    // any corpus size) built in ONE partial-agg pass over the
    // persisted term-frequency index, probed for the top-20 exact
    // terms with the estimate = min over the 4 rows. The overcount
    // column (est − exact, ≥ 0 structurally) makes the sketch's
    // error observable; the oracle replays the ENTIRE sketch —
    // hashes, counters, min — in the same integer space, so the
    // green row pins the implementation, not just the output shape.
    // At 100 TB: the 4096-key counter aggregate partial-aggregates
    // map-side (the whole point of CM — the shuffle carries 4096
    // rows per task, not the vocabulary), and the probe side
    // broadcasts the counters.
    Q("q123_countmin_heavy_hitters", {
      val cmRows = ab.take(4).zipWithIndex.map { case ((a, b), i) =>
        s"SELECT $i AS r, (($a * (h % $P) + $b) % $P) % 1024 AS b, c FROM g"
      }.mkString("\nUNION ALL\n")
      val cmProbes = ab.take(4).zipWithIndex.map { case ((a, b), i) =>
        s"SELECT w, c, $i AS r, (($a * (h % $P) + $b) % $P) % 1024 AS b FROM top"
      }.mkString("\nUNION ALL\n")
      s"""WITH tok AS (SELECT w, ${h64("w")} AS h
         |             FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)),
         |g AS (SELECT w, min(h) AS h, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY w),
         |rows_ AS ($cmRows),
         |counters AS (SELECT r, b, CAST(sum(c) AS BIGINT) AS cnt FROM rows_ GROUP BY r, b),
         |top AS (SELECT w, h, c FROM g ORDER BY c DESC, w LIMIT 20),
         |probes AS ($cmProbes),
         |est AS (SELECT w, c, min(cnt) AS est
         |        FROM probes p JOIN counters ct ON ct.r = p.r AND ct.b = p.b
         |        GROUP BY w, c)
         |SELECT w AS term, c AS exact_n, est AS est_n, est - c AS overcount
         |FROM est""".stripMargin
    }) {
      (s, d) =>
        import graft.functions.Functions.{minhashFn, portableHash64}
        def bucket(i: Int) =
          pmod(minhashFn(portableHash64(col("w")), i), lit(1024L))
        val global = Indexes.termFrequencies(s, d)
          .groupBy("w").agg(sum(col("tf")).cast("bigint").as("c"))
        // One scan: posexplode of the 4 bucket keys per term.
        val counters = global
          .select(col("c"), posexplode(array((0 until 4).map(bucket): _*)))
          .toDF("c", "r", "b")
          .groupBy("r", "b").agg(sum(col("c")).cast("bigint").as("cnt"))
        val top = global.orderBy(col("c").desc, col("w")).limit(20)
        val probes = top
          .select(col("w"), col("c"), posexplode(array((0 until 4).map(bucket): _*)))
          .toDF("w", "c", "r", "b")
        probes.join(broadcast(counters), Seq("r", "b"))
          .groupBy("w", "c").agg(min(col("cnt")).as("est"))
          .select(col("w").as("term"), col("c").as("exact_n"),
            col("est").as("est_n"), (col("est") - col("c")).as("overcount"))
    }
  )
}
