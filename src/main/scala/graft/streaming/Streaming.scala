package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming counterparts of the reference's hand-rolled
  * incremental machinery (SURVEY.md §2.10): what `main.cron` + the
  * watermark table + chronological file processing do by hand, a
  * checkpointed stream does with committed offsets.
  *
  *   - [[windowedCounts]] / [[sessionCounts]]: event-time tumbling,
  *     sliding and session aggregation with late-data eviction — the
  *     capability the reference's daily-batch design approximates with
  *     cron.
  *   - [[enrich]]: stream-static dimension enrichment.
  *   - [[writeBatchIdempotent]]: the exactly-once `foreachBatch` sink
  *     write (a retried batch id overwrites its own partition).
  *   - [[maintainClusters]]: per-trigger near-dup cluster maintenance
  *     against a static corpus signature index, committed through the
  *     versioned table protocol.
  *
  * Scale notes: state stores shard by key across executors; every
  * stateful op here bounds its state with watermark eviction.
  */
object Streaming {

  /** Watermarked tumbling/sliding window aggregate. Sink guidance:
    * production jobs pair this with a `foreachBatch` sink
    * ([[writeBatchIdempotent]]) in `update` mode — each trigger then
    * carries only the CHANGED windows and the watermark bounds both
    * state and output (StreamingSpec pins the delta-fold equivalence). The
    * `memory` + `complete` combination in the declared oracle replays
    * (q95/q96) is the REPLAY HARNESS only: driver-collected, emitting
    * every window each trigger — bounded there by the replay's window
    * count, unbounded in a long-running job. Do not copy that shape
    * into production. */
  def windowedCounts(df: DataFrame, tsCol: String, keyCol: String,
                     windowDur: String, slide: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), windowDur, slide), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("window.end").as("win_end"),
        col(keyCol), col("n"), col("sum_value"))

  /** Stream-static dimension enrichment — the most common production
    * streaming shape: a fact stream joined against a (bounded) batch
    * dimension. The dim side broadcasts, so each micro-batch enriches
    * map-side with zero stream-side shuffle; Spark re-plans the
    * static side per trigger, so a dim refreshed between triggers
    * (e.g. an SCD2 current-version view) is picked up without
    * restarting the stream. A LEFT join: an unmatched fact must
    * surface as nulls, not vanish. */
  def enrich(stream: DataFrame, dim: DataFrame,
             joinExpr: org.apache.spark.sql.Column): DataFrame =
    stream.join(broadcast(dim), joinExpr, "left")

  /** Session windows: per-key activity bursts separated by `gap` of
    * quiet become one window (the streaming counterpart of
    * [[graft.ops.Sessionize]]'s batch formulation — state closes and
    * emits when the watermark passes a session's gap). */
  def sessionCounts(df: DataFrame, tsCol: String, keyCol: String,
                    gap: String, delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col(keyCol), col("n"), col("sum_value"))

  /** Idempotent micro-batch write: the batch lands in a Hive partition
    * keyed by its batch id, written with DYNAMIC partition overwrite —
    * so a RETRIED batch id (sink succeeded, checkpoint commit lost to
    * a crash) overwrites its own partition instead of double-appending.
    * This is the exactly-once fix for the reference's one
    * non-idempotent stage (`report.py:63-113` appends per run;
    * [[graft.ops.Pipeline.runReport]] reproduces that for parity —
    * this is the corrected production variant).
    *
    * Scale shape: each trigger writes only its own partition
    * directory; dynamic overwrite touches no other batch's files, so
    * sink work is bounded by the trigger, not the report's history.
    * Readers drop (or prune on) `__batch_id`. */
  def writeBatchIdempotent(batch: DataFrame, batchId: Long, path: String): Unit =
    batch.withColumn("__batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id")
      .parquet(path)

  /** STREAMING CLUSTER MAINTENANCE: each micro-batch of documents is
    * signed, near-dup edges are found against the static corpus index
    * AND within the batch, and the edges fold into the PERSISTED
    * cluster-labels table via [[graft.ops.Dedup.mergeComponents]] —
    * per-trigger work ∝ batch + affected membership, never the corpus.
    * This is the production composition of the three incremental
    * pieces: the materialized signature index (probed, never rebuilt),
    * incremental connected components (touched clusters only), and
    * the manifest commit protocol (each trigger publishes a new
    * labels generation atomically; a crash mid-merge leaves readers
    * on the previous generation).
    *
    * Retry safety comes from merge IDEMPOTENCE rather than batch-id
    * partitioning: folding the same edges into already-merged labels
    * is a content no-op, so a replayed trigger commits a new
    * generation with identical rows (StreamingSpec pins this).
    * Singleton docs (no edges) carry no label row — the same contract
    * as batch CC; readers coalesce missing labels to the doc id
    * (q66's pattern). */
  def maintainClusters(docs: DataFrame, store: graft.io.TableStore,
                       labelsTable: String, corpusSigs: DataFrame,
                       idCol: String, textCol: String, threshold: Double,
                       checkpoint: String): StreamingQuery = {
    import graft.ops.Dedup
    // Corpus-side probe table prepared ONCE for the stream: the band
    // explode + hot-band cap aggregate over the full index is
    // per-CORPUS work — deriving it inside the trigger body re-ran
    // that pass every micro-batch. Persisted for the stream's
    // lifetime and released when the query terminates (listener
    // below); the verify side reads `__hs` from the caller's
    // (already-persisted) signature frame as before.
    val corpusBands = Dedup.corpusBandRows(corpusSigs, idCol)
      .persist()
    val corpusHs = corpusSigs.select(col(idCol).as("d2"), col("__hs").as("hs2"))
    val query = docs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // A file-source micro-batch arrives with the PARALLELISM OF
        // ITS FILE LIST — q99's staged replay delivers 2 files per
        // trigger, so every downstream md5/shingle/minhash pass would
        // run 2-4-way on a 32-core box. Measured sf10: the signing
        // pass alone was 21s starved vs ~5s rebalanced. Same
        // input-layout discipline as [[graft.io.Sources.rebalance]]:
        // fires only when the batch is under-split, never at scale.
        val batchDocs = graft.io.Sources.rebalance(batch.sparkSession,
          batch.select(col(idCol), col(textCol)))
        // The batch signature frame feeds FOUR consumers (the corpus
        // probe, its hs1 verify join, and both sides of the batch
        // self join) — materialize the shingle/minhash pass once per
        // trigger instead of once per consumer.
        val batchSigs = Dedup.minhashSignatures(batchDocs, idCol, textCol)
          .localCheckpoint(true)
        val hs1 = batchSigs.select(col(idCol).as("d1"), col("__hs").as("hs1"))
        val (inter, uni) = Dedup.jaccardParts(col("hs1"), col("hs2"))
        val jaccardOk = inter.cast("double") / uni >= threshold
        // New docs link to the corpus AND to each other: batch×corpus
        // through the banded probe, batch×batch through the same
        // capped self join the batch path uses.
        // A doc already present in the corpus index (at-least-once
        // redelivery, or an index maintained ahead of labels) probes
        // ITSELF at jaccard 1 — a degenerate self edge that would
        // mint a label row for a true singleton. Drop self pairs;
        // real duplicate PAIRS keep their edge.
        val crossEdges = Dedup.lshCandidateHitsAgainstBands(
            batchSigs, idCol, corpusBands)
          .distinct()
          .filter(col("d1") =!= col("d2"))
          .join(hs1, "d1").join(corpusHs, "d2")
          .filter(jaccardOk)
          .select("d1", "d2")
        val selfEdges = Dedup.lshCandidates(batchSigs, idCol)
          .join(hs1, "d1")
          .join(batchSigs.select(col(idCol).as("d2"), col("__hs").as("hs2")), "d2")
          .filter(jaccardOk)
          .select("d1", "d2")
        // The banded joins above are the expensive part of the
        // trigger, and the edge frame is consumed several times: the
        // empty-guard below, then mergeComponents' endpoint pull,
        // affected-component broadcast, and the iterative CC — each a
        // separate job over the same DAG. Materialize ONCE, eagerly,
        // and cut the lineage (the same localCheckpoint discipline CC
        // itself uses internally; blocks are reclaimed by the context
        // cleaner when the trigger's frame goes out of scope).
        val edges = crossEdges.unionByName(selfEdges).localCheckpoint(true)
        // An edge-free trigger is a label no-op: skip the commit
        // rather than churn an identical generation per idle batch
        // (vacuum pressure for nothing).
        if (!edges.isEmpty) {
          val labels =
            if (store.liveGeneration(labelsTable).isDefined)
              store.readVersioned(labelsTable)
            else edges.select(col("d1").as("id"), col("d1").as("component")).limit(0)
          store.commitVersioned(labelsTable,
            Dedup.mergeComponents(labels, edges)): Unit
        }
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    // Release the prepared probe table when THIS query terminates.
    // The event bus is asynchronous: if the stream drains before the
    // listener registers, the unpersist is skipped — a benign leak
    // (storage reclaimed at session cache-clear / shutdown), never a
    // correctness issue.
    val streams = docs.sparkSession.streams
    streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) {
          corpusBands.unpersist(): Unit
          streams.removeListener(this)
        }
    })
    query
  }
}
