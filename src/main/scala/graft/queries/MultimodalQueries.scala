package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Sources.table
import graft.ops.Multimodal

/** Multimodal-column queries: the harness has no real media, so
  * `documents.text` bytes stand in for the blob (the corpus is pure
  * ASCII, so DuckDB's VARCHAR arithmetic mirrors Spark's byte
  * arithmetic exactly for the frame-sampling oracle). The decode stub
  * is deterministic (see [[graft.ops.Multimodal.FakeCodec]]); the
  * feature query is declared rows-only because a partition-batched
  * JVM codec is exactly the kind of op the SQL oracle cannot express. */
object MultimodalQueries {

  /** The phash pair-family oracle: recomputes the 18×16 gray pixels
    * from the SAME text bytes (container round-trips are exact for
    * gray — pinned by MultimodalSpec), 2×2 sum-pools, dHashes, and
    * pairs via ALL-pairs Hamming (banding is pigeonhole-exact at
    * radius 3, so the plain formulation is a true oracle AND a proof
    * the banded join drops no pair). One caveat scopes that proof:
    * the banded side runs with the default band-frequency cap
    * engaged, which the all-pairs SQL cannot express — harness
    * corpora never approach the cap (DedupSpec pins prune-nothing at
    * 200 random fingerprints; a bucket needs >1000 members), but a
    * corpus with >1000 IDENTICAL fingerprints would see capped pairs
    * the oracle keeps, exactly as in the MinHash family's documented
    * cap semantics. Shared by q97 (BMP path) and q102 (PNG path) —
    * same pixels, so the same oracle pins both. */
  private[queries] val PhashCtes =
    """px AS (
      |  SELECT doc_id, i,
      |         CASE WHEN i <= length(text) THEN ascii(substring(text, CAST(i AS INT), 1))
      |              ELSE 32 END AS v
      |  FROM documents, unnest(generate_series(1, 288)) AS t(i)),
      |pooled AS (
      |  SELECT doc_id, ((i-1)//18)//2 AS py, ((i-1)%18)//2 AS px, sum(v) AS s
      |  FROM px GROUP BY doc_id, ((i-1)//18)//2, ((i-1)%18)//2),
      |bits AS (
      |  SELECT a.doc_id, a.py*8 + a.px AS k,
      |         CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
      |  FROM pooled a JOIN pooled b ON a.doc_id = b.doc_id AND a.py = b.py AND b.px = a.px + 1
      |  WHERE a.px < 8),
      |fp AS (
      |  SELECT doc_id, bit_or(CASE WHEN bit = 0 THEN 0
      |                             WHEN k = 63 THEN (-9223372036854775807 - 1)
      |                             ELSE (1::BIGINT << CAST(k AS INT)) END) AS phash
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** The audio-fingerprint oracle chain, shared by q110/q113/q115
    * (ONE spec for the fingerprint — clip-prefix length, 2-sample
    * windows, adjacent-energy compare, the k=63 Long.MinValue bit —
    * so a future change cannot desynchronize the three oracles).
    * `p` prefixes every CTE name so the chain can coexist with
    * [[PhashCtes]] (whose final CTE is also named `fp`) in one WITH
    * clause; the final CTE `${p}fp` carries (doc_id, afp). */
  private[queries] def audioFpCtes(p: String): String =
    s"""${p}sm AS (
       |  SELECT doc_id, i,
       |         CASE WHEN i <= length(text)
       |              THEN abs((ascii(substring(text, CAST(i AS INT), 1)) - 128) * 256)
       |              ELSE 0 END AS e
       |  FROM documents, unnest(generate_series(1, 130)) AS t(i)),
       |${p}win AS (
       |  SELECT doc_id, (i-1) // 2 AS w, sum(e) AS s
       |  FROM ${p}sm GROUP BY doc_id, (i-1) // 2),
       |${p}bits AS (
       |  SELECT a.doc_id, a.w AS k, CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
       |  FROM ${p}win a JOIN ${p}win b ON a.doc_id = b.doc_id AND b.w = a.w + 1
       |  WHERE a.w < 64),
       |${p}fp AS (
       |  SELECT doc_id, bit_or(CASE WHEN bit = 0 THEN 0
       |                             WHEN k = 63 THEN (-9223372036854775807 - 1)
       |                             ELSE (1::BIGINT << CAST(k AS INT)) END) AS afp
       |  FROM ${p}bits GROUP BY doc_id)""".stripMargin

  private val PhashPairOracle =
    s"""WITH $PhashCtes
      |SELECT a.doc_id AS d1, b.doc_id AS d2, a.phash AS fp1, b.phash AS fp2,
      |       bit_count(xor(a.phash, b.phash))::INT AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin

  val all: Seq[Q] = Seq(

    // Frame sampling over fake video blobs: one row per 100 ms tick,
    // payload a byte slice. sequence+explode+substring — all Catalyst.
    Q("q50_frame_sample",
      """WITH media AS (
        |  SELECT doc_id, 'video/fake' AS media_type, text,
        |         length(text) % 500 AS duration_ms
        |  FROM documents),
        |ticks AS (
        |  SELECT doc_id, media_type, text, duration_ms,
        |         unnest(generate_series(0, duration_ms, 100)) AS frame_ms
        |  FROM media)
        |SELECT doc_id, media_type, frame_ms,
        |       CAST(length(substring(text, CAST(frame_ms % greatest(length(text), 1) AS INT) + 1, 16)) AS BIGINT) AS frame_len,
        |       substring(text, CAST(frame_ms % greatest(length(text), 1) AS INT) + 1, 16) AS frame_str
        |FROM ticks""".stripMargin) {
      (s, d) =>
        val media = table(s, d, "documents").select(
          col("doc_id"),
          lit("video/fake").as("media_type"),
          col("text").cast("binary").as("content"),
          (length(col("text")) % 500).cast("bigint").as("duration_ms"))
        Multimodal.sampleFrames(media, everyMs = 100L)
          .select(col("doc_id"), col("media_type"), col("frame_ms"),
            octet_length(col("frame")).cast("bigint").as("frame_len"),
            col("frame").cast("string").as("frame_str"))
    },

    // Image near-dup dedup over REAL decoded pixels: text bytes →
    // real 18×16 BMP blobs → the production BmpCodec decode → 64-bit
    // dHash (2×2 integer pooling, right-neighbor comparisons) → the
    // SAME banded Hamming join the SimHash family uses (4×16-bit
    // bands; pigeonhole exact for radius 3). This connects the media
    // codecs to the dedup machinery: at 100 TB the decode+hash is one
    // amortized map pass landed as an index table (Indexes.imagePhash)
    // and candidate generation is a 16-byte-per-image hash join. The
    // oracle recomputes pixels from the SAME text bytes (the BMP
    // round-trip is exactly invertible for gray pixels — pinned by
    // MultimodalSpec), then pools/hashes/pairs in pure integer SQL,
    // via ALL-pairs: banding is provably exact at radius 3, so the
    // plain formulation is a true oracle AND a proof the banded join
    // drops no pair.
    Q("q97_image_phash_neardup", PhashPairOracle) {
      (s, d) =>
        // From the persisted pair index ([[Indexes.imagePhashPairs]]
        // — the neardupEdges discipline for the image modality; the
        // banded self join runs once per corpus generation, its five
        // consumers scan parquet). This row's oracle is what pins the
        // persisted pairs against the all-pairs recompute.
        Indexes.imagePhashPairs(s, d)
          .select("d1", "d2", "fp1", "fp2", "hamming")
    },

    // The q97 chain through a COMPRESSED container: the same gray
    // pixels encoded as real grayscale PNGs, decoded by the
    // production PngCodec (zlib inflate, row-filter reconstruction,
    // CRC validation), dHashed, banded-Hamming paired. PNG stores
    // exact sample bytes, so the SAME integer-SQL oracle applies
    // verbatim — a green row here is machine proof the media-dedup
    // chain is codec-agnostic in practice (imageDhash's mkCodec seam
    // exercised end-to-end under the oracle gate, not just in specs).
    Q("q102_image_phash_png", PhashPairOracle) {
      (s, d) =>
        graft.ops.Dedup.simhashPairs(Indexes.imagePhashPng(s, d),
            "doc_id", "phash", fpBits = 64)
          .select("d1", "d2", "fp1", "fp2", "hamming")
    },

    // …and through the LZW-compressed container: the same pixels as
    // real GIF89a blobs (encodeGifGray emits a REAL variable-width
    // LZW code stream, clears and deferred width bumps included),
    // decoded by the production GifCodec's in-engine LZW
    // decompressor + palette lookup. Gray palette entries decode to
    // exactly i/255, so the identical oracle pins the third
    // container. BMP (raw) + PNG (deflate) + GIF (LZW): every
    // in-engine image codec now drives the dedup chain under the
    // same gate.
    Q("q107_image_phash_gif", PhashPairOracle) {
      (s, d) =>
        graft.ops.Dedup.simhashPairs(Indexes.imagePhashGif(s, d),
            "doc_id", "phash", fpBits = 64)
          .select("d1", "d2", "fp1", "fp2", "hamming")
    },

    // INCREMENTAL media near-dup: a new image batch (the last 20 % of
    // the id space, derived from a bounded scalar max — the q73/q43
    // watermark pattern) probes the PERSISTED phash index instead of
    // re-pairing the world — per-batch work ∝ batch × band-bucket
    // occupancy, never corpus². The q43 incremental flow, for the
    // media family, through the same pigeonhole banding. Oracle:
    // all-pairs batch × pre-existing-corpus Hamming from the same
    // text bytes (banding provably drops no pair at radius 3).
    Q("q108_image_phash_incremental",
      s"""WITH $PhashCtes,
        |cut AS (SELECT max(doc_id) * 4 // 5 AS c FROM documents)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, a.phash AS fp1, b.phash AS fp2,
        |       bit_count(xor(a.phash, b.phash))::INT AS hamming
        |FROM fp a JOIN fp b ON a.doc_id >= (SELECT c FROM cut)
        |                   AND b.doc_id < (SELECT c FROM cut)
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin) {
      (s, d) =>
        val phash = Indexes.imagePhash(s, d)
        val maxId = table(s, d, "documents")
          .agg(max(col("doc_id")).cast("long")).head().getLong(0)
        val cutoff = maxId * 4 / 5
        graft.ops.Dedup.simhashPairsAgainst(
            phash.filter(col("doc_id") >= cutoff),
            phash.filter(col("doc_id") < cutoff),
            "doc_id", "phash")
          .select("d1", "d2", "fp1", "fp2", "hamming")
    },

    // The LOSSY leg of the codec matrix: the same corpus images as
    // max-quality JPEGs through the JDK's production decoder. A lossy
    // codec cannot promise bit-identical hashes (DCT quantization
    // moves dHash bits whose pooled cells were nearly tied), so this
    // gate is the q22 bounded-verification discipline applied to
    // media: emit the EXACT phash (oracle-recomputable) plus an
    // integer flag pinning the JPEG-path hash within
    // [[graft.ops.Multimodal.JpegPhashTolerance]] Hamming bits of it
    // — measured max 12 / mean 1.7 at sf0.01, declared 24. The
    // oracle recomputes the exact hash and pins every flag at 1: a
    // codec regression (wrong colorspace, broken quality setting,
    // upstream pixel bug) blows the bound and hash-mismatches the
    // row. BMP (raw) + PNG (deflate) + GIF (LZW) + JPEG (lossy):
    // the full codec matrix now drives the dedup chain under
    // machine-checked gates.
    Q("q109_image_phash_jpeg",
      s"""WITH $PhashCtes
        |SELECT doc_id, phash, 1 AS jpeg_ok FROM fp""".stripMargin) {
      (s, d) =>
        val exact = Indexes.imagePhash(s, d)
        val lossy = Indexes.imagePhashJpeg(s, d)
          .select(col("doc_id"), col("phash").as("jpeg_phash"))
        exact.join(lossy, "doc_id")
          .select(col("doc_id"), col("phash"),
            when(graft.ops.Dedup.hamming(col("phash"), col("jpeg_phash"))
              <= Multimodal.JpegPhashTolerance, 1).otherwise(0)
              .cast("int").as("jpeg_ok"))
    },

    // Image near-dup CLUSTERS: connected components over the q97
    // perceptual-hash pair set — the full media-dedup pipeline
    // (decode → dHash → banded Hamming pairs → CC labels), the same
    // cluster artifact the text family lands (q57), produced from
    // pixels — and read the same way: from the PERSISTED labels
    // table (Indexes.imagePhashLabels; CC runs once per corpus
    // generation, the q57 discipline). Oracle: the q97 integer-SQL
    // hash chain feeding the recursive-CTE closure from scratch;
    // component ids are the cluster's minimum doc id in both
    // engines, singletons carry no row.
    Q("q100_image_phash_clusters",
      """WITH RECURSIVE px AS (
        |  SELECT doc_id, i,
        |         CASE WHEN i <= length(text) THEN ascii(substring(text, CAST(i AS INT), 1))
        |              ELSE 32 END AS v
        |  FROM documents, unnest(generate_series(1, 288)) AS t(i)),
        |pooled AS (
        |  SELECT doc_id, ((i-1)//18)//2 AS py, ((i-1)%18)//2 AS px, sum(v) AS s
        |  FROM px GROUP BY doc_id, ((i-1)//18)//2, ((i-1)%18)//2),
        |bits AS (
        |  SELECT a.doc_id, a.py*8 + a.px AS k,
        |         CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        |  FROM pooled a JOIN pooled b ON a.doc_id = b.doc_id AND a.py = b.py AND b.px = a.px + 1
        |  WHERE a.px < 8),
        |fp AS (
        |  SELECT doc_id, bit_or(CASE WHEN bit = 0 THEN 0
        |                             WHEN k = 63 THEN (-9223372036854775807 - 1)
        |                             ELSE (1::BIGINT << CAST(k AS INT)) END) AS phash
        |  FROM bits GROUP BY doc_id),
        |prs AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |sym AS (SELECT d1 AS src, d2 AS dst FROM prs
        |        UNION SELECT d2, d1 FROM prs),
        |reach AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN sym e ON r.dst = e.src),
        |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
        |         FROM reach GROUP BY src)
        |SELECT c.component, c.doc_id,
        |       count(*) OVER (PARTITION BY c.component) AS cluster_size
        |FROM comp c""".stripMargin) {
      (s, d) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("component"))
        Indexes.imagePhashLabels(s, d)
          .select(col("component"), col("id").as("doc_id"))
          .withColumn("cluster_size", count(lit(1)).over(w))
    },

    // Partition-batched feature extraction, ORACLE-GREEN: the decode
    // runs through the per-partition codec exactly as before (the
    // plumbing under test), but features are INTEGER-SPACE pooled
    // sums/counts — the stub codec's byte→[0,1]→byte re-quantization
    // is lossless, so DuckDB recomputes the whole chain from the same
    // text bytes and must agree bit-for-bit. The float mean the old
    // shape emitted is a trailing division consumers apply themselves;
    // keeping sums keeps the gate hash-exact (was rows-only until r8).
    Q("q51_media_features",
      """WITH b AS (SELECT unnest(generate_series(0, 7)) AS bucket),
        |px AS (
        |  SELECT doc_id, i, ascii(substring(text, CAST(i AS INT), 1)) AS v
        |  FROM documents, unnest(generate_series(1, length(text))) AS t(i)),
        |agg AS (
        |  SELECT doc_id, (i-1) % 8 AS bucket, sum(v) AS s, count(*) AS c
        |  FROM px GROUP BY doc_id, (i-1) % 8)
        |SELECT d.doc_id, CAST(b.bucket AS INT) AS bucket,
        |       CAST(coalesce(a.s, 0) AS BIGINT) AS psum,
        |       CAST(coalesce(a.c, 0) AS BIGINT) AS pcnt,
        |       CAST(length(d.text) AS BIGINT) AS n_bytes,
        |       'fake-codec' AS codec
        |FROM documents d CROSS JOIN b
        |LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.bucket = b.bucket""".stripMargin) {
      (s, d) =>
        import s.implicits._
        val media = table(s, d, "documents").select(
          col("doc_id"),
          lit("image/fake").as("media_type"),
          col("text").cast("binary").as("content"),
          length(col("text")).cast("bigint").as("duration_ms"))
          .as[Multimodal.MediaRow]
        Multimodal.extractPooledInts(media, dim = 8).toDF()
          .select(col("doc_id"), col("bucket"), col("psum"), col("pcnt"),
            col("n_bytes"), col("codec"))
    },

    // AUDIO near-dup — the media-dedup loop closed for the audio
    // codec: text bytes → signed 16-bit samples in REAL RIFF/WAVE
    // containers (the q104 fixture) → the production WavPcmCodec →
    // the integer energy-contour fingerprint (audioFingerprint64 —
    // 65 two-sample windows over the clip prefix, adjacent energy
    // comparisons; Haitsma–Kalker in spirit, exact in integer space)
    // → the SAME combo-banded Hamming join as the image family,
    // riding the PERSISTED audio_fingerprint index. At sf0.01 radius
    // 3 recovers 25 of 27 planted near-dup pairs with zero background
    // collisions (the two missed pairs edit inside the clip prefix —
    // the fingerprint's declared sensitivity, not a defect). Oracle:
    // all-pairs Hamming from the same text bytes (banding is
    // pigeonhole-exact at radius 3, so the plain formulation is a
    // true oracle AND a proof the banded join drops no pair — under
    // the PhashPairOracle caveat: the default band cap is invisible
    // until a single fingerprint repeats >1000 times).
    Q("q110_audio_neardup",
      s"""WITH ${audioFpCtes("")}
        |SELECT a.doc_id AS d1, b.doc_id AS d2, a.afp AS fp1, b.afp AS fp2,
        |       bit_count(xor(a.afp, b.afp))::INT AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin) {
      (s, d) =>
        // Persisted pair index (the image family's q97 note; this
        // row's oracle pins the audio pairs).
        Indexes.audioFpPairs(s, d)
          .select("d1", "d2", "fp1", "fp2", "hamming")
    },

    // INCREMENTAL audio near-dup: a new clip batch (the last 20 % of
    // the id space — the q108/q43 watermark pattern) probes the
    // PERSISTED audio fingerprint index through the batch×corpus
    // combo-banded Hamming join; per-batch work ∝ batch × bucket
    // occupancy, never corpus². With q43 (text) and q108 (images),
    // every near-dup modality now has both a full-corpus and an
    // incremental declared flow.
    Q("q113_audio_neardup_incremental",
      s"""WITH ${audioFpCtes("")},
        |cut AS (SELECT max(doc_id) * 4 // 5 AS c FROM documents)
        |SELECT a.doc_id AS d1, b.doc_id AS d2, a.afp AS fp1, b.afp AS fp2,
        |       bit_count(xor(a.afp, b.afp))::INT AS hamming
        |FROM fp a JOIN fp b ON a.doc_id >= (SELECT c FROM cut)
        |                   AND b.doc_id < (SELECT c FROM cut)
        |WHERE bit_count(xor(a.afp, b.afp)) <= 3""".stripMargin) {
      (s, d) =>
        val afp = Indexes.audioFingerprint(s, d)
        val maxId = table(s, d, "documents")
          .agg(max(col("doc_id")).cast("long")).head().getLong(0)
        val cutoff = maxId * 4 / 5
        graft.ops.Dedup.simhashPairsAgainst(
            afp.filter(col("doc_id") >= cutoff),
            afp.filter(col("doc_id") < cutoff),
            "doc_id", "afp")
          .select("d1", "d2", "fp1", "fp2", "hamming")
    },

    // The AUDIO codec under the oracle gate — the q102 recipe applied
    // to WAV-PCM: text bytes become signed 16-bit samples
    // ((b−128)·256), land in a REAL RIFF/WAVE container
    // (encodeWavPcm16), decode through the production WavPcmCodec
    // (chunk walk, fmt validation, little-endian samples), and pool
    // as integer sums per modulo bucket. 16-bit normalization is
    // s/32768 — float-exact — so re-quantization recovers every
    // sample bit-for-bit and DuckDB recomputes the whole chain from
    // the same text bytes. With q51 (byte codec), q97 (BMP), and
    // q102 (PNG), every bit-exact codec family now has an
    // oracle-gated declared query.
    Q("q104_audio_features",
      """WITH b AS (SELECT unnest(generate_series(0, 7)) AS bucket),
        |s AS (
        |  SELECT doc_id, i, (ascii(substring(text, CAST(i AS INT), 1)) - 128) * 256 AS v
        |  FROM documents, unnest(generate_series(1, length(text))) AS t(i)),
        |agg AS (
        |  SELECT doc_id, (i-1) % 8 AS bucket, sum(v) AS s, count(*) AS c
        |  FROM s GROUP BY doc_id, (i-1) % 8)
        |SELECT d.doc_id, CAST(b.bucket AS INT) AS bucket,
        |       CAST(coalesce(a.s, 0) AS BIGINT) AS psum,
        |       CAST(coalesce(a.c, 0) AS BIGINT) AS pcnt,
        |       CAST(length(d.text) * 2 + 44 AS BIGINT) AS n_bytes,
        |       'wav-pcm' AS codec
        |FROM documents d CROSS JOIN b
        |LEFT JOIN agg a ON a.doc_id = d.doc_id AND a.bucket = b.bucket""".stripMargin) {
      (s, d) =>
        import s.implicits._
        val docs = table(s, d, "documents")
          .select(col("doc_id"), col("text")).as[(Long, String)]
        val media = docs.mapPartitions { it =>
          it.map { case (id, text) =>
            val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            val samples = new Array[Short](bytes.length)
            var i = 0
            while (i < bytes.length) {
              samples(i) = (((bytes(i) & 0xff) - 128) * 256).toShort
              i += 1
            }
            Multimodal.MediaRow(id, "audio/wav",
              Multimodal.encodeWavPcm16(samples), bytes.length.toLong)
          }
        }
        Multimodal.extractPooledInts(media, dim = 8,
            mkCodec = () => new Multimodal.WavPcmCodec, quantScale = 32768).toDF()
          .select("doc_id", "bucket", "psum", "pcnt", "n_bytes", "codec")
    },

    // Multimodal training-manifest assembly: the corpus-packaging
    // step that stitches text with its media attachments into one
    // loader-ready row — documents LEFT JOINed against BOTH persisted
    // media indexes (image phash, audio fingerprint), modality
    // presence encoded as a bitmask (1 = text, 2 = image, 4 = audio).
    // Media coverage is sparse in any real corpus; here presence is
    // a deterministic id rule (image iff doc_id % 3 ≠ 0, audio iff
    // doc_id % 5 ≠ 0) so the oracle replays membership exactly. At
    // 100 TB: two shuffle joins on the narrow doc-id key against
    // index tables that are 16 bytes/row — the decode work was paid
    // once when the indexes were built, never per manifest read.
    Q("q115_multimodal_manifest",
      s"""WITH $PhashCtes,
        |${audioFpCtes("a")}
        |SELECT d.doc_id, d.lang,
        |       CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok,
        |       i.phash, a.afp,
        |       CAST(1 + (CASE WHEN i.phash IS NOT NULL THEN 2 ELSE 0 END)
        |              + (CASE WHEN a.afp IS NOT NULL THEN 4 ELSE 0 END) AS INT)
        |         AS modality_mask
        |FROM documents d
        |LEFT JOIN (SELECT doc_id, phash FROM fp WHERE doc_id % 3 <> 0) i
        |       ON i.doc_id = d.doc_id
        |LEFT JOIN (SELECT doc_id, afp FROM afp WHERE doc_id % 5 <> 0) a
        |       ON a.doc_id = d.doc_id""".stripMargin) {
      (s, d) =>
        val docs = table(s, d, "documents").select(col("doc_id"), col("lang"),
          size(graft.ops.Dedup.tokens(col("text"))).cast("bigint").as("n_tok"))
        val img = Indexes.imagePhash(s, d)
          .filter(col("doc_id") % 3 =!= 0).select("doc_id", "phash")
        val aud = Indexes.audioFingerprint(s, d)
          .filter(col("doc_id") % 5 =!= 0).select("doc_id", "afp")
        docs.join(img, Seq("doc_id"), "left").join(aud, Seq("doc_id"), "left")
          .select(col("doc_id"), col("lang"), col("n_tok"),
            col("phash"), col("afp"),
            (lit(1) + when(col("phash").isNotNull, 2).otherwise(0)
                    + when(col("afp").isNotNull, 4).otherwise(0))
              .cast("int").as("modality_mask"))
    },

    // Cross-modal duplicate consistency: for every IMAGE near-dup
    // pair, verify whether the attached TEXTS also agree (3-gram
    // shingle jaccard ≥ 0.7, compared in integer space:
    // 10·|∩| ≥ 7·|∪|) — the "same image, different caption"
    // diagnostic a multimodal curation pass runs before collapsing
    // media duplicates (captions that disagree are kept; media still
    // dedups). Scale shape: the pair list is the banded-join output
    // (∝ true duplicate density, never n²); shingle arrays attach to
    // the pairs via two narrow-key joins, so the jaccard verify costs
    // ∝ pairs — the q74 verify discipline applied cross-modally.
    Q("q116_crossmodal_consistency",
      s"""WITH $PhashCtes,
        |hsl AS (
        |  SELECT doc_id,
        |         CASE WHEN len(ws) >= 3
        |              THEN list_transform(
        |                     list_distinct(list_transform(range(1, len(ws)-1),
        |                       i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])),
        |                     s -> ('0x' || substr(md5(s),1,15))::BIGINT)
        |              ELSE [] END AS hl
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |pr AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2,
        |         bit_count(xor(a.phash, b.phash))::INT AS hamming
        |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |j AS (
        |  SELECT pr.d1, pr.d2, pr.hamming,
        |         CAST(len(list_intersect(h1.hl, h2.hl)) AS BIGINT) AS n_shared,
        |         CAST(len(h1.hl) + len(h2.hl)
        |              - len(list_intersect(h1.hl, h2.hl)) AS BIGINT) AS n_union
        |  FROM pr JOIN hsl h1 ON h1.doc_id = pr.d1
        |          JOIN hsl h2 ON h2.doc_id = pr.d2)
        |SELECT d1, d2, hamming, n_shared, n_union,
        |       CAST(CASE WHEN n_union = 0 THEN 0
        |                 WHEN 10 * n_shared >= 7 * n_union THEN 1
        |                 ELSE 0 END AS INT) AS text_match
        |FROM j""".stripMargin) {
      (s, d) =>
        import graft.ops.Dedup
        // Persisted pair index (q97's note).
        val pairs = Indexes.imagePhashPairs(s, d)
          .select("d1", "d2", "hamming")
        // The text side rides the PERSISTED shingle-HASH index (8
        // bytes/shingle, one parquet read per pair side — the
        // tokenize+md5 pass never re-runs; jaccard over hashes equals
        // jaccard over shingles and the oracle hashes identically).
        // Docs under 3 tokens are absent from the index; a LEFT join
        // + empty-array coalesce keeps their pairs with n_union = 0,
        // matching the oracle's ELSE []. No semi-join/materialization
        // of the pair list: at replica-heavy scale the pair set
        // approaches the corpus in size, so filtering the 8-byte index
        // through it costs more than just reading the index twice.
        val empty = array().cast("array<bigint>")
        val sh = Indexes.shingles(s, d).select(col("doc_id"), col("__hs"))
        val j = pairs
          .join(sh.select(col("doc_id").as("d1"), col("__hs").as("hs1")),
            Seq("d1"), "left")
          .join(sh.select(col("doc_id").as("d2"), col("__hs").as("hs2")),
            Seq("d2"), "left")
          .withColumn("hs1", coalesce(col("hs1"), empty))
          .withColumn("hs2", coalesce(col("hs2"), empty))
          .withColumn("n_shared",
            size(array_intersect(col("hs1"), col("hs2"))).cast("bigint"))
          .withColumn("n_union",
            (size(col("hs1")) + size(col("hs2"))).cast("bigint") - col("n_shared"))
        j.select(col("d1"), col("d2"), col("hamming"),
          col("n_shared"), col("n_union"),
          when(col("n_union") === 0, 0)
            .when(lit(10) * col("n_shared") >= lit(7) * col("n_union"), 1)
            .otherwise(0).cast("int").as("text_match"))
    },

    // The LOSSY leg of the AUDIO codec matrix — q109's discipline for
    // sound: the same corpus clips through REAL IMA ADPCM (4-bit
    // adaptive delta quantization, RIFF format 0x11, public tables —
    // ~4:1 vs PCM16), decoded by the in-engine AdpcmImaCodec. A lossy
    // codec cannot promise bit-identical fingerprints, so the gate is
    // the bounded-verification shape: emit the EXACT energy-contour
    // fingerprint (oracle-recomputable) plus an integer flag pinning
    // the ADPCM-path fingerprint within AdpcmAfpTolerance Hamming
    // bits — measured max 12 / mean 5.5 at sf0.01, declared 24. The
    // oracle recomputes the exact fingerprint and pins every flag at
    // 1: a codec regression (diverged predictor, wrong step table,
    // nibble-order bug) blows the bound and hash-mismatches the row.
    // PCM (exact) + ADPCM (lossy): the audio matrix now carries both
    // legs, like BMP/PNG/GIF (exact) + JPEG (lossy) for images.
    Q("q147_audio_fp_adpcm",
      s"""WITH ${audioFpCtes("")}
        |SELECT doc_id, afp, 1 AS adpcm_ok FROM fp""".stripMargin) {
      (s, d) =>
        val exact = Indexes.audioFingerprint(s, d)
        val lossy = Indexes.audioFingerprintAdpcm(s, d)
          .select(col("doc_id"), col("afp").as("adpcm_afp"))
        exact.join(lossy, "doc_id")
          .select(col("doc_id"), col("afp"),
            when(graft.ops.Dedup.hamming(col("afp"), col("adpcm_afp"))
              <= Multimodal.AdpcmAfpTolerance, 1).otherwise(0)
              .cast("int").as("adpcm_ok"))
    },

    // The TRANSFORM leg of the audio codec matrix: the same corpus
    // clips through the MDCT subband codec (real Princen–Bradley
    // 50 %-overlap MDCT analysis, per-frame scalefactor + 4-bit
    // uniform quantization, IMDCT+overlap-add synthesis — the
    // architecture under MP3/AAC, from the public closed-form math;
    // ISO's Layer II/III bit-allocation tables have no closed form
    // and are out of scope, recorded in Multimodal's codec note).
    // Same q147 gate shape: emit the EXACT energy-contour fingerprint
    // plus a flag pinning the MDCT-path fingerprint within
    // MdctAfpTolerance Hamming bits; the oracle recomputes the exact
    // fingerprint and pins every flag at 1 — a transform regression
    // (window break, basis drift, nibble sign error) blows the bound
    // and hash-mismatches the row. The audio matrix now has exact
    // (PCM), time-domain lossy (ADPCM), and transform-domain lossy
    // (MDCT) legs.
    Q("q160_audio_fp_mdct",
      s"""WITH ${audioFpCtes("")}
        |SELECT doc_id, afp, 1 AS mdct_ok FROM fp""".stripMargin) {
      (s, d) =>
        val exact = Indexes.audioFingerprint(s, d)
        val lossy = Indexes.audioFingerprintMdct(s, d)
          .select(col("doc_id"), col("afp").as("mdct_afp"))
        exact.join(lossy, "doc_id")
          .select(col("doc_id"), col("afp"),
            when(graft.ops.Dedup.hamming(col("afp"), col("mdct_afp"))
              <= Multimodal.MdctAfpTolerance, 1).otherwise(0)
              .cast("int").as("mdct_ok"))
    },

    // REAL video decode in the dedup chain — q50's frame-sampling
    // family previously stubbed the decode; this leg runs the full
    // path on a genuine public video format: 3-frame MJPEG AVIs
    // (RIFF container, 'vids'/'MJPG' stream, one baseline JPEG per
    // '00dc' chunk) decoded by the production AviMjpegCodec, frame 0
    // dHashed as the representative-frame video fingerprint. Frames
    // are JPEGs, so the q109 lossy gate applies verbatim: emit the
    // exact-pixel phash (oracle-recomputable) plus a flag pinning the
    // video-path hash within JpegPhashTolerance — a container break,
    // frame mis-order, or JPEG regression blows the bound and
    // hash-mismatches the row. Inter-frame-predictive codecs (H.264)
    // stay out of scope (entropy tables not re-derivable from public
    // math; decision recorded with the MP3 note in Multimodal).
    Q("q161_video_phash_mjpeg",
      s"""WITH $PhashCtes
        |SELECT doc_id, phash, 1 AS mjpeg_ok FROM fp""".stripMargin) {
      (s, d) =>
        val exact = Indexes.imagePhash(s, d)
        val video = Indexes.videoPhashMjpeg(s, d)
          .select(col("doc_id"), col("phash").as("video_phash"))
        exact.join(video, "doc_id")
          .select(col("doc_id"), col("phash"),
            when(graft.ops.Dedup.hamming(col("phash"), col("video_phash"))
              <= Multimodal.JpegPhashTolerance, 1).otherwise(0)
              .cast("int").as("mjpeg_ok"))
    },

    // Temporal video near-dup: q161 fingerprints ONE representative
    // frame; a real video-dedup pipeline then confirms candidates
    // across TIME — two videos sharing a keyframe but diverging later
    // must not merge. The pair universe is the oracle-recomputable
    // one (exact-pixel frame-0 dHash, banded Hamming ≤ 3 — q97's
    // machinery verbatim, provably exact by pigeonhole), and each
    // pair is then verified against the per-frame hash SEQUENCES from
    // the real MJPEG-AVI decode path (Indexes.videoSeqPhashMjpeg):
    // summed Hamming over all 3 frames within VideoSeqTolerance.
    // The gate is the lossy-codec discipline (q109/q147/q160): the
    // declared flag pins the video-path sequence distance — a
    // container break, frame mis-order, or a codec regression on ANY
    // frame blows the bound and hash-mismatches the row. At 100 TB
    // the seq index is 24 bytes/video, candidates come from the
    // 8-byte keyframe hash join, and the temporal verify is 3 XORs
    // per candidate pair — no second decode, no frame shuffle.
    // Measured drift at sf0.01: max summed seq distance over
    // qualifying pairs 33 bits (mean 7.3) vs the declared 72 — the
    // >=2x margin discipline; the bound's derivation is 3 frames x
    // the 24-bit per-image JPEG gate q109 declares.
    Q("q163_video_temporal_neardup",
      s"""WITH $PhashCtes
        |SELECT a.doc_id AS d1, b.doc_id AS d2,
        |       bit_count(xor(a.phash, b.phash))::INT AS hamming,
        |       1 AS video_ok
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3""".stripMargin) {
      (s, d) =>
        // Persisted pair index (q97's note).
        val pairs = Indexes.imagePhashPairs(s, d)
          .select("d1", "d2", "hamming")
        val seq = Indexes.videoSeqPhashMjpeg(s, d)
        val a = seq.select(col("doc_id").as("d1"), col("h0").as("a0"),
          col("h1").as("a1"), col("h2").as("a2"))
        val b = seq.select(col("doc_id").as("d2"), col("h0").as("b0"),
          col("h1").as("b1"), col("h2").as("b2"))
        val seqDist = graft.ops.Dedup.hamming(col("a0"), col("b0")) +
          graft.ops.Dedup.hamming(col("a1"), col("b1")) +
          graft.ops.Dedup.hamming(col("a2"), col("b2"))
        pairs.join(a, "d1").join(b, "d2")
          .select(col("d1"), col("d2"), col("hamming"),
            when(seqDist <= Multimodal.VideoSeqTolerance, 1).otherwise(0)
              .cast("int").as("video_ok"))
    }
  )
}
