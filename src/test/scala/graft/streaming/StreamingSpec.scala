package graft.streaming

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.io.Sources

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def writeTx(dir: Path, name: String, rows: String*): Unit =
    Files.writeString(dir.resolve(name),
      ("transaction_id;amount" +: rows).mkString("\n") + "\n"): Unit

  test("idempotent report sink: a retried batch overwrites, never double-appends") {
    val out = Files.createTempDirectory("graft_rep_unit").resolve("rep").toString
    val batch = Seq(("2024-01-01 10:00:00", "p1", "FIO ONE", "rule_1"))
      .toDF("event_dt", "passport", "fio", "event_type")
    Streaming.writeBatchIdempotent(batch, 0L, out)
    Streaming.writeBatchIdempotent(batch, 0L, out) // the retry
    assert(spark.read.parquet(out).count() === 1)
    Streaming.writeBatchIdempotent(batch, 1L, out) // next batch appends
    assert(spark.read.parquet(out).count() === 2)
  }

  test("report sink restart: crash before the checkpoint commit cannot double-append") {
    val src = Files.createTempDirectory("graft_repsink_src")
    val out = Files.createTempDirectory("graft_repsink_out").resolve("rep")
    val ckpt = Files.createTempDirectory("graft_repsink_ckpt")
    writeTx(src, "transactions_01012024.txt", "1;10", "2;20")

    def drain(): Unit = {
      val q = spark.readStream.option("sep", ";").option("header", "true")
        .schema(Sources.stringSchema("transaction_id", "amount"))
        .csv(src.toString)
        .writeStream
        .foreachBatch((batch: DataFrame, batchId: Long) =>
          Streaming.writeBatchIdempotent(batch, batchId, out.toString))
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
      // Deregistration from the checkpoint-path registry is async to
      // termination; a restart that wins the race trips the
      // concurrent-checkpoint-use guard. Wait it out.
      val deadline = System.currentTimeMillis + 10000
      while (spark.streams.active.exists(_.id == q.id) &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
    }

    drain()
    assert(spark.read.parquet(out.toString).count() === 2)
    // Crash simulation: the sink wrote batch 0 but the commit marker
    // never landed — on restart the engine re-executes batch 0 with
    // the SAME batch id, which must overwrite, not append. (The plain
    // append sink the reference uses would now hold 4 rows.)
    val commit0 = ckpt.resolve("commits").resolve("0")
    assert(Files.exists(commit0), "expected a commit marker for batch 0")
    Files.delete(commit0)
    // ...and its local-FS checksum sibling: a real crash writes neither.
    Files.deleteIfExists(ckpt.resolve("commits").resolve(".0.crc")): Unit
    drain()
    assert(spark.read.parquet(out.toString).count() === 2)
    // New data still lands as a fresh batch partition.
    writeTx(src, "transactions_02012024.txt", "3;30")
    drain()
    assert(spark.read.parquet(out.toString)
      .select("transaction_id").as[String].collect().sorted.toSeq
      === Seq("1", "2", "3"))
  }

  test("windowedCounts: event-time tumbling windows via MemoryStream") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "value")
    val q = Streaming.windowedCounts(df, "ts", "event_type",
        "10 minutes", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    ms.addData(
      (ts("2024-01-01 10:01:00"), "click", 1.0),
      (ts("2024-01-01 10:04:00"), "click", 2.0),
      (ts("2024-01-01 10:11:00"), "click", 4.0),
      (ts("2024-01-01 10:02:00"), "view", 8.0))
    q.processAllAvailable()
    val rows = spark.table("win_counts")
      .select("win_start", "event_type", "n", "sum_value")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    q.stop()
    assert(rows === Set(
      (ts("2024-01-01 10:00:00"), "click", 2L, 3.0),
      (ts("2024-01-01 10:10:00"), "click", 1L, 4.0),
      (ts("2024-01-01 10:00:00"), "view", 1L, 8.0)))
  }

  test("windowedCounts update mode: per-trigger deltas fold to the complete aggregate") {
    // The PRODUCTION sink shape (foreachBatch + update), vs q95/q96's
    // memory+complete replay harness: each trigger emits only the
    // windows the batch CHANGED, so sink traffic is bounded by the
    // trigger's data, and folding the deltas (last write per window
    // wins) reproduces the full aggregate exactly.
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "event_type", "value")
    val agg = Streaming.windowedCounts(df, "ts", "event_type",
      "10 minutes", "10 minutes", "5 minutes")
    val state = scala.collection.mutable.Map.empty[(Timestamp, String), (Long, Double)]
    var emitted = 0L
    val q = agg.writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = batch
          .select("win_start", "event_type", "n", "sum_value").collect()
        emitted += rows.length
        rows.foreach(r => state((r.getTimestamp(0), r.getString(1))) =
          (r.getLong(2), r.getDouble(3)))
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft_upd_cp").toString)
      .start()
    ms.addData(
      (ts("2024-01-01 10:01:00"), "click", 1.0),
      (ts("2024-01-01 10:11:00"), "click", 4.0))
    q.processAllAvailable()
    // Trigger 2 touches ONLY the 10:10 window: update mode must emit
    // that one row, not re-emit the untouched 10:00 window.
    ms.addData((ts("2024-01-01 10:12:00"), "click", 8.0))
    q.processAllAvailable()
    q.stop()
    assert(emitted === 3L, s"update mode re-emitted unchanged windows: $emitted")
    assert(state.toMap === Map(
      (ts("2024-01-01 10:00:00"), "click") -> ((1L, 1.0)),
      (ts("2024-01-01 10:10:00"), "click") -> ((2L, 12.0))))
  }

  test("sessionCounts: session windows close on the gap") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val df = ms.toDF().toDF("ts", "user", "value")
    val q = Streaming.sessionCounts(df, "ts", "user", "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("sess_counts")
      .outputMode("complete").start()
    ms.addData(
      (ts("2024-01-01 10:00:00"), "u1", 1.0), // session A
      (ts("2024-01-01 10:03:00"), "u1", 2.0), // still A (3 min gap)
      (ts("2024-01-01 10:20:00"), "u1", 4.0)) // new session B
    q.processAllAvailable()
    val rows = spark.table("sess_counts")
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getLong(3), r.getDouble(4)))
      .toSet
    q.stop()
    assert(rows === Set(
      (ts("2024-01-01 10:00:00"), ts("2024-01-01 10:08:00"), 2L, 3.0),
      (ts("2024-01-01 10:20:00"), ts("2024-01-01 10:25:00"), 1L, 4.0)))
  }

  test("streaming near-dup ingest finds the same pairs as the batch incremental path") {
    implicit val ctx = spark.sqlContext
    // Static corpus: two distinct docs; the stream delivers a near-dup
    // of doc 1 (one word changed) and an unrelated doc, across two
    // micro-batches.
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs far away today"),
      (2L, "completely different text about spark engines and distributed query planning"))
      .toDF("doc_id", "text")
    val corpusSigs = graft.ops.Dedup.minhashSignatures(corpus, "doc_id", "text")
    val ms = MemoryStream[(Long, String)]
    val stream = ms.toDF().toDF("doc_id", "text")
    // Per-band hits, no `distinct`: stateless, so the join streams.
    val q = graft.ops.Dedup.lshCandidateHits(
        graft.ops.Dedup.minhashSignatures(stream, "doc_id", "text"), corpusSigs, "doc_id")
      .writeStream.format("memory").queryName("neardup_cand")
      .outputMode("append").start()
    // Exact duplicate of corpus doc 1: identical shingle set →
    // identical signature → every band collides (deterministic hit;
    // a one-word edit's collision depends on which band the changed
    // shingles land in).
    val nearDup = (101L,
      "the quick brown fox jumps over the lazy dog and runs far away today")
    val unrelated = (102L, "numbers one two three four five six seven eight nine ten")
    ms.addData(nearDup)
    q.processAllAvailable()
    ms.addData(unrelated)
    q.processAllAvailable()
    val streamed = spark.table("neardup_cand")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet  // sink-side dedup
    q.stop()
    val batch = graft.ops.Dedup.lshCandidatesAgainst(
      graft.ops.Dedup.minhashSignatures(
        Seq(nearDup, unrelated).toDF("doc_id", "text"), "doc_id", "text"),
      corpusSigs, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(streamed.contains((101L, 1L)))
    assert(!streamed.exists(_._1 == 102L))
  }

  test("streaming PQ encode matches the batch encode (codes are a pure map)") {
    implicit val ctx = spark.sqlContext
    // PQ encoding is m shuffle-free argmin folds — stateless per row,
    // so it composes with Structured Streaming unchanged: encode a
    // stream of embeddings against STATIC codebooks (trained upfront,
    // the ivfKnn "fixed centroids" contract) and the codes must equal
    // the batch encode of the same rows.
    val train = (0L until 8L).map(i =>
      (i, Array.tabulate(4)(j => (i % 4 + j).toFloat / 4)))
      .toDF("vec_id", "embedding")
    val cbs = graft.ops.Similarity.pqTrainCodebooks(train, dim = 4, m = 2,
      kPerSub = 2, iters = 2)
    val rows = Seq(
      (100L, Array(0.1f, 0.3f, 0.9f, 0.2f)),
      (101L, Array(0.8f, 0.7f, 0.1f, 0.6f)),
      (102L, Array(0.5f, 0.5f, 0.5f, 0.5f)))
    val ms = MemoryStream[(Long, Array[Float])]
    val q = graft.ops.Similarity.pqEncode(
        ms.toDF().toDF("vec_id", "embedding"), cbs)
      .writeStream.format("memory").queryName("pq_stream")
      .outputMode("append").start()
    ms.addData(rows.take(2): _*)
    q.processAllAvailable()
    ms.addData(rows.drop(2): _*)
    q.processAllAvailable()
    val streamed = spark.table("pq_stream")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    q.stop()
    val batch = graft.ops.Similarity.pqEncode(rows.toDF("vec_id", "embedding"), cbs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(streamed === batch)
    assert(streamed.keySet === Set(100L, 101L, 102L))
  }

  test("maintainClusters: streamed labels match from-scratch CC; replay is content-idempotent") {
    implicit val ctx = spark.sqlContext
    import graft.ops.Dedup
    val thr = 0.4
    // Corpus: docs 1 and 2 are exact duplicates (their edge seeds one
    // existing cluster); doc 3 stands alone.
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val t3 = "totally different words about streaming cluster maintenance under spark"
    val corpus = Seq((1L, t1), (2L, t1), (3L, t3)).toDF("doc_id", "text")
    val corpusSigs = Dedup.minhashSignatures(corpus, "doc_id", "text")
    def verified(sigs: org.apache.spark.sql.DataFrame) =
      Dedup.scoredCandidatePairs(sigs, "doc_id")
        .filter(org.apache.spark.sql.functions.col("__inter").cast("double") /
          org.apache.spark.sql.functions.col("__union") >= thr)
        .select("d1", "d2")
    val store = new graft.io.TableStore(spark,
      Files.createTempDirectory("graft_stream_cc").toString)
    // Yesterday's labels: CC over the corpus's own verified pairs.
    store.commitVersioned("labels",
      Dedup.connectedComponents(verified(corpusSigs)))
    // The stream delivers: 101 (dup of 3 — attaches to a singleton),
    // 102 (dup of 1 — joins the existing {1,2} cluster), 103 (dup of
    // 102 — a batch-INTERNAL edge that must also fold in).
    val ms = MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = Streaming.maintainClusters(ms.toDF().toDF("doc_id", "text"),
        store, "labels", corpusSigs, "doc_id", "text", thr,
        Files.createTempDirectory("graft_stream_cc_cp").toString)
      q.processAllAvailable(); q.stop()
    }
    ms.addData((101L, t3), (102L, t1), (103L, t1))
    drain()
    def labelRows() = store.readVersioned("labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = labelRows()
    // From-scratch truth: CC over the verified pairs of the WHOLE
    // world (corpus + stream docs).
    val world = corpus.unionByName(
      Seq((101L, t3), (102L, t1), (103L, t1)).toDF("doc_id", "text"))
    val truth = Dedup.connectedComponents(
        verified(Dedup.minhashSignatures(world, "doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === truth)
    assert(streamed.contains((102L, 1L)) && streamed.contains((103L, 1L)))
    assert(streamed.contains((101L, 3L)))
    // Replay the same batch through a FRESH checkpoint (the
    // commit-lost crash): merge idempotence means the recommitted
    // generation is content-identical, never corrupted.
    val genBefore = store.liveGeneration("labels").get
    drain()
    assert(store.liveGeneration("labels").get > genBefore)
    assert(labelRows() === streamed)
  }
}
