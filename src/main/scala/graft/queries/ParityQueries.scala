package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Functions._
import graft.io.Sources.table
import graft.ops.{AntiInsert, Fraud, Scd2, Temporal}

/** Reference-parity capability set (SURVEY.md §2): every operator the
  * reference executes, as a named Spark query + DuckDB oracle over the
  * harness tables. Names q01–q16 follow SURVEY.md §2's operator ids in
  * the Scaladoc of each entry.
  */
object ParityQueries {

  private val REPORT = "TIMESTAMP '2024-02-01 00:00:00'"

  /** Per-process scratch roots for queries that exercise a physical
    * store (q71's report sink, q77's versioned table): created once,
    * OVERWRITTEN by each invocation, deleted on JVM exit — a
    * per-invocation `createTempDirectory` would leak one table copy
    * per bench warmup/pass/retry. */
  private val scratchRoots =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def scratchRoot(tag: String): String =
    scratchRoots.getOrElseUpdate(tag, {
      val dir = java.nio.file.Files.createTempDirectory(tag)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
        }
        rm(dir.toFile)
      }))
      dir.toString
    })

  /** q07's oracle: the full SCD2 merge snapshot in ANSI SQL
    * (cards.py:86-176 semantics), which `Scd2.merge` must hash-match
    * exactly. */
  private lazy val scd2MergeOracleSql: String =
    s"""WITH base AS (${Fixtures.custBaseSql}),
       |dim AS (${Fixtures.scd2DimSql.replace("\n", " ")}),
       |batch AS (${Fixtures.scd2BatchSql}),
       |cur AS (SELECT * FROM dim WHERE effective_to = TIMESTAMP '9999-12-31 00:00:00'),
       |hist AS (SELECT * FROM dim WHERE effective_to <> TIMESTAMP '9999-12-31 00:00:00'),
       |new_rows AS (
       |  SELECT b.k, b.seg, b.bal_cents,
       |         TIMESTAMP '2024-02-01 00:00:00' AS effective_from,
       |         TIMESTAMP '9999-12-31 00:00:00' AS effective_to, 'N' AS deleted_flg
       |  FROM batch b WHERE NOT EXISTS (SELECT 1 FROM dim t WHERE t.k = b.k)),
       |changed AS (
       |  SELECT b.* FROM batch b JOIN cur c ON b.k = c.k
       |  WHERE (b.seg IS DISTINCT FROM c.seg) OR (b.bal_cents IS DISTINCT FROM c.bal_cents)
       |     OR c.deleted_flg = 'Y'),
       |changed_rows AS (
       |  SELECT k, seg, bal_cents, TIMESTAMP '2024-02-01 00:00:00',
       |         TIMESTAMP '9999-12-31 00:00:00', 'N' FROM changed),
       |deleted_cur AS (
       |  SELECT c.* FROM cur c WHERE c.deleted_flg = 'N'
       |    AND NOT EXISTS (SELECT 1 FROM batch b WHERE b.k = c.k)),
       |deleted_rows AS (
       |  SELECT k, seg, bal_cents, TIMESTAMP '2024-02-01 00:00:00',
       |         TIMESTAMP '9999-12-31 00:00:00', 'Y' FROM deleted_cur),
       |closed_change AS (
       |  SELECT c.k, c.seg, c.bal_cents, c.effective_from,
       |         TIMESTAMP '2024-02-01 00:00:00' - INTERVAL 1 SECOND, c.deleted_flg
       |  FROM cur c WHERE EXISTS (SELECT 1 FROM changed ch WHERE ch.k = c.k)),
       |closed_delete AS (
       |  SELECT k, seg, bal_cents, effective_from,
       |         TIMESTAMP '2024-02-01 00:00:00' - INTERVAL 1 SECOND, deleted_flg
       |  FROM deleted_cur),
       |untouched AS (
       |  SELECT c.* FROM cur c
       |  WHERE NOT EXISTS (SELECT 1 FROM changed ch WHERE ch.k = c.k)
       |    AND NOT EXISTS (SELECT 1 FROM deleted_cur dc WHERE dc.k = c.k))
       |SELECT * FROM hist UNION ALL SELECT * FROM untouched
       |UNION ALL SELECT * FROM closed_change UNION ALL SELECT * FROM closed_delete
       |UNION ALL SELECT * FROM new_rows UNION ALL SELECT * FROM changed_rows
       |UNION ALL SELECT * FROM deleted_rows""".stripMargin

  /** q12/q71 shared oracle: the flagship fraud report
    * (report.py:63-113 semantics) — the inline pipeline and the
    * exactly-once sink's folded read must hash-match it identically. */
  private lazy val fraudOracleSql: String =
    s"""WITH bl AS (
       |  SELECT c_custkey AS bl_key, TIMESTAMP '2024-01-10 00:00:00' AS entry_dt
       |  FROM customer WHERE c_custkey % 13 = 0),
       |cl AS (
       |  SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
       |         concat_ws(' ', 'Customer', c.c_name, c.c_mktsegment) AS fio,
       |         CASE WHEN e.user_id % 4 = 0 THEN TIMESTAMP '2024-01-20 00:00:00'
       |              ELSE TIMESTAMP '2024-12-31 00:00:00' END AS valid_to,
       |         b.bl_key,
       |         coalesce(b.entry_dt, TIMESTAMP '9999-12-31 00:00:00') AS bl_entry_dt,
       |         CAST(json_extract_string(e.props, '$$.k') AS INT) AS k
       |  FROM events e
       |  LEFT JOIN customer c ON e.user_id = c.c_custkey
       |  LEFT JOIN bl b ON e.user_id = b.bl_key),
       |cl2 AS (
       |  SELECT *, CAST(k % 10 AS VARCHAR) AS city,
       |         CASE WHEN k % 3 = 0 THEN 'REJECT' ELSE 'SUCCESS' END AS oper_result
       |  FROM cl),
       |lg AS (
       |  SELECT *,
       |         lag(city) OVER w AS lag_city,
       |         epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
       |         lag(oper_result, 1) OVER w AS res1,
       |         lag(oper_result, 2) OVER w AS res2,
       |         lag(oper_result, 3) OVER w AS res3,
       |         lag(value, 1) OVER w AS amt1,
       |         lag(value, 2) OVER w AS amt2,
       |         lag(value, 3) OVER w AS amt3,
       |         lag(ts, 3) OVER w AS ts3
       |  FROM cl2 WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT ts AS event_dt, user_id, fio, CAST(1 AS INT) AS fraud_type, $REPORT AS report_dt
       |  FROM lg WHERE bl_key IS NOT NULL AND ts >= bl_entry_dt
       |UNION ALL
       |SELECT ts, user_id, fio, CAST(2 AS INT), $REPORT FROM lg WHERE ts >= valid_to
       |UNION ALL
       |SELECT ts, user_id, fio, CAST(3 AS INT), $REPORT
       |  FROM lg WHERE lag_city IS NOT NULL AND city <> lag_city AND gap_us <= 3600000000
       |UNION ALL
       |SELECT ts, user_id, fio, CAST(4 AS INT), $REPORT
       |  FROM lg WHERE oper_result = 'SUCCESS'
       |    AND res1 = 'REJECT' AND res2 = 'REJECT' AND res3 = 'REJECT'
       |    AND value < amt1 AND amt1 < amt2 AND amt2 < amt3
       |    AND epoch_us(ts) - epoch_us(ts3) <= 1200000000
       |    AND event_type IN ('click','view')""".stripMargin

  val all: Seq[Q] = Seq(

    // J1/P3 — idempotent anti-join insert (transaction.py:80-84).
    Q("q01_anti_insert",
      """SELECT e.event_id, e.user_id, e.ts, e.event_type
        |FROM events e
        |WHERE e.ts > TIMESTAMP '2024-01-20 00:00:00'
        |  AND NOT EXISTS (SELECT 1 FROM events t
        |                  WHERE t.event_id % 3 = 0 AND t.event_id = e.event_id)""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "events")
        val target = e.filter(col("event_id") % 3 === 0)
        val batch = e.filter(col("ts") > to_timestamp(lit("2024-01-20 00:00:00")))
        AntiInsert.newRows(batch, target, Seq("event_id"))
          .select("event_id", "user_id", "ts", "event_type")
    },

    // P2/S4/F6 — incremental watermark predicate pushed into the scan
    // (cards.py:50-56).
    Q("q02_watermark_filter",
      """SELECT event_id, user_id,
        |       coalesce(CASE WHEN event_type = 'click' THEN NULL ELSE ts END, ts) AS eff_dt
        |FROM events
        |WHERE coalesce(CASE WHEN event_type = 'click' THEN NULL ELSE ts END, ts)
        |      > TIMESTAMP '2024-01-25 00:00:00'""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "events")
          .withColumn("update_dt",
            when(col("event_type") === "click", lit(null).cast(TimestampType))
              .otherwise(col("ts")))
        graft.io.Sources.incremental(e, "update_dt", "ts",
          java.sql.Timestamp.valueOf("2024-01-25 00:00:00"))
          .select(col("event_id"), col("user_id"),
            coalesce(col("update_dt"), col("ts")).as("eff_dt"))
    },

    // J9/A1 — scalar watermark subquery with coalesce fallback
    // (transaction.py:31-43), then count per type.
    Q("q03_scalar_watermark",
      """SELECT event_type, count(*) AS n
        |FROM events
        |WHERE ts > coalesce((SELECT max(ts) FROM events
        |                     WHERE user_id = 1 AND event_type = 'error'),
        |                    TIMESTAMP '1900-01-01 00:00:00')
        |GROUP BY event_type""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "events")
        val row = e.filter(col("user_id") === 1 && col("event_type") === "error")
          .agg(max("ts")).first()
        val wm = if (row.isNullAt(0)) java.sql.Timestamp.valueOf("1900-01-01 00:00:00")
                 else row.getTimestamp(0)
        e.filter(col("ts") > lit(wm)).groupBy("event_type").agg(count(lit(1)).as("n"))
    },

    // P11 — meta-table upsert: insert-if-absent + monotonic advance
    // (transaction.py:95-108).
    Q("q04_meta_upsert",
      """WITH existing AS (
        |  SELECT event_type, max(ts) AS max_update_dt FROM events
        |  WHERE ts < TIMESTAMP '2024-01-15 00:00:00' AND event_type IN ('click','view')
        |  GROUP BY event_type),
        |batch AS (SELECT event_type, max(ts) AS max_update_dt FROM events GROUP BY event_type)
        |SELECT b.event_type,
        |       greatest(b.max_update_dt, coalesce(e.max_update_dt, b.max_update_dt)) AS max_update_dt
        |FROM batch b LEFT JOIN existing e ON b.event_type = e.event_type""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "events")
        val existing = e.filter(col("ts") < to_timestamp(lit("2024-01-15 00:00:00")) &&
            col("event_type").isin("click", "view"))
          .groupBy("event_type").agg(max("ts").as("old_max"))
        val batch = e.groupBy("event_type").agg(max("ts").as("max_update_dt"))
        batch.join(existing, Seq("event_type"), "left")
          .select(col("event_type"),
            greatest(col("max_update_dt"),
              coalesce(col("old_max"), col("max_update_dt"))).as("max_update_dt"))
    },

    // P4 — null-safe changed-attribute detection: the reference's
    // 3-term OR-chain (terminals.py:128-131) as one <=> per column.
    Q("q05_changed_detect",
      """WITH dim AS (
        |  SELECT c_custkey AS k,
        |         CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE c_mktsegment END AS seg,
        |         CAST(round(c_acctbal*100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |batch AS (
        |  SELECT c_custkey AS k,
        |         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg,
        |         CAST(round(c_acctbal*100) AS BIGINT)
        |           + CASE WHEN c_custkey % 5 = 0 THEN 100 ELSE 0 END AS bal_cents
        |  FROM customer)
        |SELECT d.k, d.seg AS dim_seg, b.seg AS batch_seg,
        |       d.bal_cents AS dim_bal, b.bal_cents AS batch_bal
        |FROM dim d JOIN batch b ON d.k = b.k
        |WHERE (d.seg IS DISTINCT FROM b.seg) OR (d.bal_cents IS DISTINCT FROM b.bal_cents)""".stripMargin) {
      (s, d) =>
        val c = table(s, d, "customer")
        val cents = graft.functions.Functions.cents(col("c_acctbal"))
        val dim = c.select(col("c_custkey").as("k"),
          when(col("c_custkey") % 11 === 0, lit(null)).otherwise(col("c_mktsegment")).as("seg"),
          cents.as("bal_cents"))
        val batch = c.select(col("c_custkey").as("k"),
          when(col("c_custkey") % 7 === 0, lit(null)).otherwise(col("c_mktsegment")).as("seg"),
          (cents + when(col("c_custkey") % 5 === 0, 100).otherwise(0)).as("bal_cents"))
        dim.alias("d").join(batch.alias("b"), col("d.k") === col("b.k"))
          .filter(anyChanged(Seq(
            (col("d.seg"), col("b.seg")), (col("d.bal_cents"), col("b.bal_cents")))))
          .select(col("d.k").as("k"), col("d.seg").as("dim_seg"), col("b.seg").as("batch_seg"),
            col("d.bal_cents").as("dim_bal"), col("b.bal_cents").as("batch_bal"))
    },

    // J4/J5 — delete detection: live current keys absent from the full
    // source snapshot (terminals.py:175-194).
    Q("q06_delete_detect",
      s"""WITH base AS (${Fixtures.custBaseSql}),
         |dim AS (${Fixtures.scd2DimSql.replace("\n", " ")}),
         |snapshot AS (SELECT k FROM base WHERE k % 7 <> 0)
         |SELECT d.k, d.seg, d.bal_cents
         |FROM dim d
         |WHERE d.effective_to = TIMESTAMP '9999-12-31 00:00:00' AND d.deleted_flg = 'N'
         |  AND NOT EXISTS (SELECT 1 FROM snapshot s WHERE s.k = d.k)""".stripMargin) {
      (s, d) =>
        val dim = Fixtures.scd2Dim(s, d)
        val snapshot = Fixtures.custBase(s, d).filter(col("k") % 7 =!= 0).select("k")
        dim.filter(col("effective_to") === InfinityTs && col("deleted_flg") === "N")
          .join(snapshot, Seq("k"), "left_anti")
          .select("k", "seg", "bal_cents")
    },

    // J2/J3/K4/F10 — the full SCD2 merge as a pure snapshot recompute
    // (cards.py:86-176; SURVEY.md §7.4).
    Q("q07_scd2_merge", scd2MergeOracleSql) {
      (s, d) =>
        val batchTs = to_timestamp(lit("2024-02-01 00:00:00"))
        Scd2.merge(
          dim = Fixtures.scd2Dim(s, d),
          batch = Fixtures.scd2Batch(s, d),
          keys = Seq("k"),
          tracked = Seq("seg", "bal_cents"),
          batchTs = batchTs,
          deleteKeys = Some(Fixtures.scd2Batch(s, d).select("k")),
          deleteTs = Some(batchTs))
    },

    // Generation-diff CDC feed over the versioned (manifest-committed)
    // store: two customer snapshots land as commits g1/g2, and
    // TableStore.tableChanges derives the key-level insert / delete /
    // update feed between them — the read side an incremental consumer
    // uses instead of re-scanning the new snapshot. The oracle
    // recomputes the same three sets from the base table with the same
    // deterministic perturbations (deletes: k%13=0; updates:
    // bal+100 where k%7=0 among survivors; inserts: k+1000000 where
    // k%11=0 — offset far above any harness key range).
    Q("q77_table_changes",
      """SELECT c_custkey AS k, 'delete' AS change_type
        |FROM customer WHERE c_custkey % 13 = 0
        |UNION ALL
        |SELECT c_custkey + 1000000, 'insert'
        |FROM customer WHERE c_custkey % 11 = 0
        |UNION ALL
        |SELECT c_custkey, 'update'
        |FROM customer WHERE c_custkey % 13 <> 0 AND c_custkey % 7 = 0""".stripMargin) {
      (s, d) =>
        val store = new graft.io.TableStore(s, scratchRoot("graft_q77"))
        val c = table(s, d, "customer")
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
            graft.functions.Functions.cents(col("c_acctbal")).as("bal_cents"))
        val g1 = store.commitVersioned("cust_v", c)
        val next = c.filter(col("k") % 13 =!= 0)
          .withColumn("bal_cents",
            col("bal_cents") + when(col("k") % 7 === 0, 100L).otherwise(0L))
          .unionByName(c.filter(col("k") % 11 === 0)
            .withColumn("k", col("k") + 1000000L))
        val g2 = store.commitVersioned("cust_v", next)
        val changes = store.tableChanges("cust_v", g1, g2, Seq("k"))
        // generations accumulate across bench passes in the per-process
        // scratch root: keep only the two this invocation compares
        store.vacuumVersioned("cust_v")
        changes
    },


    // J6/P5/P6 — temporal as-of join with strict range bounds
    // (report.py:38-41).
    Q("q08_temporal_join",
      s"""WITH base AS (${Fixtures.custBaseSql}),
         |dim AS (${Fixtures.temporalDimSql.replace("\n", " ")})
         |SELECT e.event_id, e.user_id, e.ts, d.seg
         |FROM events e
         |LEFT JOIN dim d ON e.user_id = d.k
         |  AND e.ts > d.effective_from AND e.ts < d.effective_to
         |  AND d.deleted_flg = 'N'""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "events")
        val dim = Fixtures.temporalDim(s, d)
        Temporal.asOfJoin(e, dim, e("user_id"), dim("k"), e("ts"))
          .select(e("event_id"), e("user_id"), e("ts"), dim("seg"))
    },

    // J7/F8 — trim-normalized equi join (report.py:42-43).
    Q("q09_trim_join",
      """WITH dim AS (
        |  SELECT DISTINCT '  ' || event_type || '  ' AS padded_key,
        |         upper(event_type) AS label
        |  FROM events)
        |SELECT e.event_id, e.event_type, d.label
        |FROM events e LEFT JOIN dim d ON trim(d.padded_key) = e.event_type""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "events")
        // No broadcast hint: dim is derived FROM the fact table, so its
        // size scales with the data — AQE picks broadcast at runtime
        // when it actually is small.
        val dim = e.select(
          concat(lit("  "), col("event_type"), lit("  ")).as("padded_key"),
          upper(col("event_type")).as("label")).distinct()
        e.join(dim, trim(dim("padded_key")) === e("event_type"), "left")
          .select(e("event_id"), e("event_type"), dim("label"))
    },

    // J8/P1 — enrichment star join with grouped rollup
    // (report.py:44-47); money as exact integer cents.
    Q("q10_star_enrich",
      """SELECT r.r_name, n.n_name, count(*) AS n_items,
        |       CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem l
        |LEFT JOIN orders o   ON l.l_orderkey = o.o_orderkey
        |LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |LEFT JOIN region r   ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, n.n_name""".stripMargin) {
      (s, d) =>
        val l = table(s, d, "lineitem")
        val o = table(s, d, "orders")
        val c = table(s, d, "customer")
        val n = table(s, d, "nation")
        val r = table(s, d, "region")
        // Hints only on provably bounded frames (nation=25, region=5
        // rows at any SF); customer scales with the data → AQE decides.
        l.join(o, l("l_orderkey") === o("o_orderkey"), "left")
          .join(c, o("o_custkey") === c("c_custkey"), "left")
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"), "left")
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"), "left")
          .groupBy(r("r_name"), n("n_name"))
          .agg(count(lit(1)).as("n_items"),
            sum(graft.functions.Functions.cents(
              l("l_extendedprice") * (lit(1) - l("l_discount"))))
              .cast("bigint").as("revenue_cents"))
    },

    // W1–W5 — the lag-window family over one shared WindowSpec
    // (report.py:50-62): one shuffle, one WindowExec, nine lags.
    Q("q11_window_lags",
      """SELECT event_id, user_id, ts,
        |       lag(event_type) OVER w AS lag_type,
        |       epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
        |       lag(value, 1) OVER w AS v1,
        |       lag(value, 2) OVER w AS v2,
        |       lag(value, 3) OVER w AS v3,
        |       lag(ts, 3) OVER w AS ts3
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin) {
      (s, d) =>
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        table(s, d, "events").select(
          col("event_id"), col("user_id"), col("ts"),
          lag(col("event_type"), 1).over(w).as("lag_type"),
          (epochUs(col("ts")) - epochUs(lag(col("ts"), 1).over(w))).as("gap_us"),
          lag(col("value"), 1).over(w).as("v1"),
          lag(col("value"), 2).over(w).as("v2"),
          lag(col("value"), 3).over(w).as("v3"),
          lag(col("ts"), 3).over(w).as("ts3"))
    },

    // P7–P10/U1/F7/F9 — the flagship fraud report: enrichment star,
    // 9-lag window, 4 rule branches UNION ALL (report.py:63-113).
    Q("q12_fraud_rules", fraudOracleSql) {
      (s, d) => Fraud.report(table(s, d, "events"), table(s, d, "customer"))
    },

    // K6 corrected — the EXACTLY-ONCE report sink, oracle-green: the
    // same flagship report written through the batch-id-keyed
    // idempotent sink (Streaming.writeBatchIdempotent, a streaming
    // foreachBatch body) in two batches, with
    // batch 0 WRITTEN TWICE to simulate the sink-succeeded /
    // checkpoint-commit-lost crash replay. The folded read (drop
    // `__batch_id`) must still hash-match q12's oracle exactly — the
    // retried batch id overwrites its own partition instead of
    // double-appending, which is precisely the fix for the
    // reference's one non-idempotent stage (report.py:63-113 appends
    // per run). StreamingSpec pins the same property through a real
    // streaming checkpoint; this entry pins it through the
    // correctness gate.
    Q("q71_report_sink", fraudOracleSql) {
      (s, d) =>
        // The report lineage (enrichment join + lag window over the
        // full event stream) is consumed THREE times below — two
        // batch writes plus the simulated retry. Materialize it once;
        // the splits and the retry then re-read blocks instead of
        // re-running the window (the report frame is the small,
        // post-rule output, never the raw events).
        val report = Fraud.report(table(s, d, "events"),
          table(s, d, "customer")).localCheckpoint(true)
        val path = scratchRoot("graft_q71") + "/report"
        // Wipe the prior invocation's output: the sink's idempotence
        // contract is per batch id WITHIN one checkpoint lineage, not
        // across independent pipeline re-runs.
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(path), true)
        val batch0 = report.filter(col("user_id") % 2 === 0)
        val batch1 = report.filter(col("user_id") % 2 =!= 0)
        graft.streaming.Streaming.writeBatchIdempotent(batch0, 0L, path)
        graft.streaming.Streaming.writeBatchIdempotent(batch1, 1L, path)
        // The simulated retry: batch 0 lands again under the same id.
        graft.streaming.Streaming.writeBatchIdempotent(batch0, 0L, path)
        s.read.parquet(path)
          .select("event_dt", "user_id", "fio", "fraud_type", "report_dt")
    },

    // F5/F13 — European decimal parsing round-trip
    // (transaction.py:77): "1.234,56" → 1234.56. Output as exact integer
    // cents: decimal128 rendering differs between engines' hashers, so
    // the parse is verified through a hash-stable bigint.
    Q("q13_decimal_parse",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(CAST(replace(replace(eur, '.', ''), ',', '.') AS DECIMAL(15,2)) * 100 AS BIGINT) AS amt_cents
        |FROM (SELECT l_orderkey, l_linenumber,
        |             replace(CAST(CAST(l_extendedprice AS DECIMAL(15,2)) AS VARCHAR), '.', ',') AS eur
        |      FROM lineitem)""".stripMargin) {
      (s, d) =>
        table(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            toEuroString(col("l_extendedprice").cast(DecimalType(15, 2))).as("eur"))
          .select(col("l_orderkey"), col("l_linenumber"),
            (parseEuroDecimal(col("eur")) * 100).cast("bigint").as("amt_cents"))
    },

    // F7 — NULL-skipping full-name concat (report.py:23): PG concat
    // semantics require concat_ws in Spark.
    Q("q14_fio_concat",
      """SELECT c_custkey,
        |       concat_ws(' ', c_name,
        |                 CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_mktsegment END,
        |                 CASE WHEN c_custkey % 4 = 0 THEN NULL ELSE 'JR' END) AS fio
        |FROM customer""".stripMargin) {
      (s, d) =>
        table(s, d, "customer").select(col("c_custkey"),
          fio(col("c_name"),
            when(col("c_custkey") % 3 === 0, lit(null)).otherwise(col("c_mktsegment")),
            when(col("c_custkey") % 4 === 0, lit(null)).otherwise(lit("JR"))).as("fio"))
    },

    // F1–F4 — string↔date/timestamp parsing and casts
    // (transaction.py:74, terminals.py:97-98).
    Q("q15_date_parse",
      """SELECT o_orderkey,
        |       CAST(strftime(o_orderdate, '%Y-%m-%d') AS VARCHAR) AS iso,
        |       CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS parsed_date,
        |       CAST(CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE) AS TIMESTAMP) AS parsed_ts
        |FROM orders""".stripMargin) {
      (s, d) =>
        table(s, d, "orders").select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("iso"),
          to_date(date_format(col("o_orderdate"), "yyyy-MM-dd"), "yyyy-MM-dd").as("parsed_date"),
          to_date(date_format(col("o_orderdate"), "yyyy-MM-dd"), "yyyy-MM-dd")
            .cast(TimestampType).as("parsed_ts"))
    },

    // F10/F11 — interval arithmetic: version-close timestamps and
    // epoch-seconds comparisons (cards.py:126, report.py:99).
    Q("q16_interval_arith",
      """SELECT event_id, ts,
        |       ts - INTERVAL 1 SECOND AS ts_minus_1s,
        |       epoch_us(ts) // 1000000 AS epoch_sec,
        |       CAST(CASE WHEN epoch_us(TIMESTAMP '2024-01-15 00:00:00') - epoch_us(ts) <= 3600000000
        |                  AND epoch_us(TIMESTAMP '2024-01-15 00:00:00') - epoch_us(ts) >= 0
        |            THEN 1 ELSE 0 END AS INT) AS within_hour
        |FROM events""".stripMargin) {
      (s, d) =>
        val anchor = to_timestamp(lit("2024-01-15 00:00:00"))
        table(s, d, "events").select(col("event_id"), col("ts"),
          minusOneSecond(col("ts")).as("ts_minus_1s"),
          epochSec(col("ts")).as("epoch_sec"),
          when(epochUs(anchor) - epochUs(col("ts")) <= 3600L * 1000000L &&
               epochUs(anchor) - epochUs(col("ts")) >= 0, 1).otherwise(0)
            .cast(IntegerType).as("within_hour"))
    },

    // ⚠ Faithful report fan-out (SURVEY.md §2.4 note; report.py:42-49):
    // only the terminals-analog join is time-bounded (J6, strict);
    // the cards-analog J7 trim join hits ALL SCD2 versions — a key with
    // N versions fans every fact row out N ways, and the lag window
    // (report.py:50-62) runs over that fanned rowset. Reproduced
    // verbatim because it is the reference's observable output;
    // deterministic lag order via an explicit version tiebreak.
    Q("q17_report_fanout",
      s"""WITH base AS (${Fixtures.custBaseSql}),
         |tdim AS (${Fixtures.temporalDimSql.replace("\n", " ")}),
         |cdim0 AS (${Fixtures.scd2DimSql.replace("\n", " ")}),
         |cdim AS (SELECT '  ' || CAST(k AS VARCHAR) || '  ' AS padded,
         |                seg AS c_seg, effective_from AS c_from FROM cdim0),
         |cl AS (
         |  SELECT e.event_id, e.user_id, e.ts, e.value, t.seg AS t_seg,
         |         c.c_seg, c.c_from
         |  FROM events e
         |  LEFT JOIN tdim t ON e.user_id = t.k
         |    AND e.ts > t.effective_from AND e.ts < t.effective_to
         |    AND t.deleted_flg = 'N'
         |  LEFT JOIN cdim c ON trim(c.padded) = CAST(e.user_id AS VARCHAR))
         |SELECT event_id, user_id, ts, t_seg, c_seg, c_from, value,
         |       lag(value) OVER (PARTITION BY user_id
         |         ORDER BY ts, event_id,
         |                  coalesce(c_from, TIMESTAMP '1900-01-01 00:00:00')) AS prev_value
         |FROM cl""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "events")
        val t = Fixtures.temporalDim(s, d).select(
          col("k").as("tk"), col("seg").as("t_seg"),
          col("effective_from").as("t_from"), col("effective_to").as("t_to"),
          col("deleted_flg").as("t_flg"))
        val c = Fixtures.scd2Dim(s, d).select(
          concat(lit("  "), col("k").cast("string"), lit("  ")).as("padded"),
          col("seg").as("c_seg"), col("effective_from").as("c_from"))
        val cl = e
          .join(t, e("user_id") === col("tk") &&
            e("ts") > col("t_from") && e("ts") < col("t_to") &&
            col("t_flg") === "N", "left")
          .join(c, trim(col("padded")) === e("user_id").cast("string"), "left")
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"),
          coalesce(col("c_from"), to_timestamp(lit("1900-01-01 00:00:00"))))
        cl.select(e("event_id"), e("user_id"), e("ts"),
            col("t_seg"), col("c_seg"), col("c_from"), e("value"))
          .withColumn("prev_value", lag(col("value"), 1).over(w))
    },

    // A2/A3 — degenerate max of a constant (black_list.py:97: the
    // watermark folded into SQL as a literal, constant-folded through
    // the agg) and the row-count flow-control guard (cards.py:68-71).
    Q("q18_flow_guards",
      """SELECT event_type,
        |       max(TIMESTAMP '2024-01-15 00:00:00') AS const_wm,
        |       count(*) AS n_rows,
        |       CAST(CASE WHEN count(*) > 0 THEN 1 ELSE 0 END AS INT) AS has_rows
        |FROM events GROUP BY event_type""".stripMargin) {
      (s, d) =>
        table(s, d, "events").groupBy("event_type").agg(
          max(to_timestamp(lit("2024-01-15 00:00:00"))).as("const_wm"),
          count(lit(1)).as("n_rows"),
          when(count(lit(1)) > 0, 1).otherwise(0).cast(IntegerType).as("has_rows"))
    }
  )
}
