package graft.queries

import org.apache.spark.sql.functions._
import graft.io.Sources.table

/** Beyond-reference capabilities (filled in by the dedup / similarity /
  * text-analysis / multimodal modules). Start: grouped aggregation —
  * the reference has no GROUP BY (SURVEY.md §2.5) but any analytics
  * engine needs it; TPC-H Q1 shape with money as exact integer cents.
  */
object ExtensionQueries {

  val all: Seq[Q] = Seq(

    // Z-order (Morton) clustering key: the multi-dimensional sort key
    // behind clustered table layout (files sorted by z cluster on EVERY
    // listed column, so min/max file skipping prunes on any of them, not
    // just a leading sort column). Here the key itself is the query: 8 bits of part key ×
    // 8 bits of supplier key interleaved MSB-first. The oracle SQL is
    // GENERATED from the same bit enumeration as the Spark expression
    // (Functions.zorderKeySql), so the two engines compute identical
    // shift/and/or terms by construction. Pure built-ins, one
    // projection, no shuffle.
    Q("q76_zorder_key",
      s"""SELECT l_orderkey, l_linenumber,
         |       ${graft.functions.Functions.zorderKeySql(8,
                   Seq("l_partkey % 256", "l_suppkey % 256"))} AS z_key
         |FROM lineitem""".stripMargin) {
      (s, d) =>
        table(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            graft.functions.Functions.zorderKey(8,
              pmod(col("l_partkey"), lit(256)),
              pmod(col("l_suppkey"), lit(256))).as("z_key"))
    },

    // JSON / semi-structured surface over the `events.props` column
    // (the harness's JSON-first event stream): schema-projected parse
    // (`from_json` with an explicit struct — the production spelling:
    // one parse, typed fields), path extraction (`get_json_object`,
    // including a missing path → NULL), and a filter on an extracted
    // field.
    //
    // Pushdown behavior, stated for the record: COLUMN PRUNING reaches
    // the scan (ReadSchema carries only event_id/user_id/props —
    // PlanSpec pins it), but a predicate on an EXTRACTED field cannot
    // push into the parquet footer — JSON is an opaque string to the
    // reader, so the filter evaluates post-scan, inside codegen. At
    // 100 TB the move is to materialize hot JSON fields as real
    // columns at ingest (one `from_json` pass, written wide), after
    // which min/max pruning applies; this query is the read-side
    // surface those pipelines start from.
    Q("q72_json_props",
      """SELECT event_id, user_id,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |       json_extract_string(props, '$.missing') AS missing_attr
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INT) % 7 = 0""".stripMargin) {
      (s, d) =>
        val parsed = from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.IntegerType))))
        table(s, d, "events")
          .select(col("event_id"), col("user_id"),
            parsed.getField("k").as("k"),
            get_json_object(col("props"), "$.missing").as("missing_attr"))
          .filter(col("k") % 7 === 0)
    },

    // Pure range join (NO equi key) — point-in-interval matching of
    // lineitem ship-dates against order-derived campaign windows,
    // executed through Temporal.rangeJoin's bucketed rewrite: explode
    // intervals into week buckets, hash-join on the bucket id, range
    // residual inside the join. The oracle is the PLAIN inequality
    // join — bucketing must not change the result, and the naive plan
    // (BroadcastNestedLoopJoin, O(points × intervals)) is exactly what
    // the rewrite exists to avoid; PlanSpec pins the rewritten plan
    // nested-loop-free. Day arithmetic in integer space on both sides.
    Q("q78_range_join",
      """WITH c AS (
        |  SELECT o_orderkey AS campaign_id,
        |         datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS start_day,
        |         datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) + 7 AS end_day
        |  FROM orders WHERE o_orderkey % 500 = 0)
        |SELECT l.l_orderkey, l.l_linenumber, c.campaign_id,
        |       CAST(datediff('day', DATE '1992-01-01', CAST(l.l_shipdate AS DATE)) AS BIGINT) AS ship_day
        |FROM lineitem l JOIN c
        |  ON datediff('day', DATE '1992-01-01', CAST(l.l_shipdate AS DATE)) >= c.start_day
        | AND datediff('day', DATE '1992-01-01', CAST(l.l_shipdate AS DATE)) < c.end_day""".stripMargin) {
      (s, d) =>
        val day0 = lit("1992-01-01").cast("date")
        val points = table(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            datediff(col("l_shipdate").cast("date"), day0).cast("long").as("ship_day"))
        val startDay = datediff(col("o_orderdate").cast("date"), day0).cast("long")
        val intervals = table(s, d, "orders")
          .filter(col("o_orderkey") % 500 === 0)
          .select(col("o_orderkey").as("campaign_id"),
            startDay.as("start_day"), (startDay + 7).as("end_day"))
        graft.ops.Temporal.rangeJoin(points, intervals,
            point = col("ship_day"), start = col("start_day"),
            end = col("end_day"), bucketWidth = 7L)
          .select("l_orderkey", "l_linenumber", "campaign_id", "ship_day")
    },

    // Interval-overlap join (interval × interval, no equi key):
    // overlapping pairs of two order-derived campaign window sets,
    // through Temporal.intervalOverlapJoin's bucketed rewrite — both
    // sides explode into week buckets, and each overlapping pair is
    // emitted ONLY by the bucket owning the intersection's first
    // instant, so no distinct pass exists anywhere. The oracle is the
    // plain inequality join; overlap length comes out in integer days.
    Q("q87_interval_overlap",
      """WITH a AS (SELECT o_orderkey AS aid,
        |                  datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS a_start,
        |                  datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) + 7 AS a_end
        |           FROM orders WHERE o_orderkey % 500 = 0),
        |b AS (SELECT o_orderkey AS bid,
        |             datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS b_start,
        |             datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) + 14 AS b_end
        |      FROM orders WHERE o_orderkey % 300 = 7)
        |SELECT a.aid, b.bid,
        |       CAST(least(a.a_end, b.b_end) - greatest(a.a_start, b.b_start) AS BIGINT) AS overlap_days
        |FROM a JOIN b ON a.a_start < b.b_end AND b.b_start < a.a_end""".stripMargin) {
      (s, d) =>
        val day0 = lit("1992-01-01").cast("date")
        def dayOf(c: org.apache.spark.sql.Column) = datediff(c.cast("date"), day0).cast("long")
        val a = table(s, d, "orders").filter(col("o_orderkey") % 500 === 0)
          .select(col("o_orderkey").as("aid"),
            dayOf(col("o_orderdate")).as("a_start"),
            (dayOf(col("o_orderdate")) + 7).as("a_end"))
        val b = table(s, d, "orders").filter(col("o_orderkey") % 300 === 7)
          .select(col("o_orderkey").as("bid"),
            dayOf(col("o_orderdate")).as("b_start"),
            (dayOf(col("o_orderdate")) + 14).as("b_end"))
        graft.ops.Temporal.intervalOverlapJoin(a, b,
            lStart = col("a_start"), lEnd = col("a_end"),
            rStart = col("b_start"), rEnd = col("b_end"), bucketWidth = 7L)
          .select(col("aid"), col("bid"),
            (least(col("a_end"), col("b_end")) -
              greatest(col("a_start"), col("b_start"))).as("overlap_days"))
    },

    // Backward as-of join (merge_asof): each purchase matched to the
    // user's latest view at-or-before it — the last-known-reading
    // lookup of every time-series feature pipeline. The Spark side is
    // Temporal.asofBackward's union+window formulation: ONE key
    // shuffle, no key+range join (which multiplies to one row per
    // (left, earlier-right) pair before any argmax can prune — at
    // 100 TB that blow-up is the job). The oracle IS that naive
    // join+argmax, so the window formulation must reproduce it
    // exactly, ties and all.
    Q("q86_asof_join",
      """WITH v AS (SELECT user_id, ts AS vts, event_id AS vid FROM events
        |           WHERE event_type = 'view'),
        |p AS (SELECT event_id AS pid, user_id, ts AS pts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.pid, p.user_id, p.pts, max(v.vts) AS asof_ts
        |FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.vts <= p.pts
        |GROUP BY p.pid, p.user_id, p.pts""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "events")
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("vts"), col("event_id").as("vid"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
        graft.ops.Temporal.asofBackward(purchases, views, key = "user_id",
            leftTs = "pts", rightTs = "vts", rightId = "vid")
          .select("pid", "user_id", "pts", "asof_ts")
    },

    // Forward as-of join: each purchase's NEXT view at-or-after it —
    // next-touch attribution / time-to-next-event, the mirror of q86
    // through the same union+window core with the traversal reversed.
    // Oracle: the naive join+argmin.
    Q("q92_asof_forward",
      """WITH v AS (SELECT user_id, ts AS vts, event_id AS vid FROM events
        |           WHERE event_type = 'view'),
        |p AS (SELECT event_id AS pid, user_id, ts AS pts FROM events
        |      WHERE event_type = 'purchase')
        |SELECT p.pid, p.user_id, p.pts, min(v.vts) AS asof_ts
        |FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.vts >= p.pts
        |GROUP BY p.pid, p.user_id, p.pts""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "events")
        val views = e.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("vts"), col("event_id").as("vid"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"), col("ts").as("pts"))
        graft.ops.Temporal.asofForward(purchases, views, key = "user_id",
            leftTs = "pts", rightTs = "vts", rightId = "vid")
          .select("pid", "user_id", "pts", "asof_ts")
    },

    // GROUPING SETS — the general multi-grouping form (q25's rollup is
    // the prefix-hierarchy special case): three grouping sets in ONE
    // pass over the scan via the Expand operator, partial aggregation
    // per set — never three scans. Expressed through spark.sql (the
    // engine's SQL surface is first-class; GROUPING SETS has no
    // DataFrame spelling pre-4.0 worth preferring).
    Q("q85_grouping_sets",
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin) {
      (s, d) =>
        table(s, d, "orders").createOrReplaceTempView("orders_gs")
        s.sql(
          """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
            |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
            |FROM orders_gs
            |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())""".stripMargin)
    },

    // Equi-width histogram profile — the data-profiling pass that
    // sizes everything else (bucket boundaries for range partitioning,
    // skew detection, layout decisions). One hash aggregation with
    // partial agg; bucket ids and cents bounds in integer space.
    Q("q81_histogram",
      """SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bucket,
        |       count(*) AS n,
        |       CAST(min(round(o_totalprice * 100)) AS BIGINT) AS min_cents,
        |       CAST(max(round(o_totalprice * 100)) AS BIGINT) AS max_cents
        |FROM orders GROUP BY bucket""".stripMargin) {
      (s, d) =>
        table(s, d, "orders")
          .groupBy(floor(col("o_totalprice") / 25000).cast("bigint").as("bucket"))
          .agg(count(lit(1)).as("n"),
            min(graft.functions.Functions.cents(col("o_totalprice"))).as("min_cents"),
            max(graft.functions.Functions.cents(col("o_totalprice"))).as("max_cents"))
    },

    // Bloom-filtered semi join (RuntimeFilter.bloomSemiJoin): the
    // key-side sketch builds distributed, re-enters the plan as a
    // bounded binary literal, and prunes the fact INSIDE its scan
    // stage before the exact semi join — so the join shuffles true
    // matches plus the false-positive tail, not the full fact table.
    // The oracle is the PLAIN semi join: the exact join clears false
    // positives, so the reduction must be row-invisible (the salted
    // join/q19 proof pattern). PlanSpec pins the might_contain filter
    // under the join.
    Q("q84_bloom_semijoin",
      """SELECT e.event_id, e.user_id, e.event_type
        |FROM events e
        |WHERE EXISTS (SELECT 1 FROM customer c
        |              WHERE c.c_custkey = e.user_id AND c.c_acctbal >= 9000)""".stripMargin) {
      (s, d) =>
        val keys = table(s, d, "customer")
          .filter(col("c_acctbal") >= 9000)
          .select(col("c_custkey").as("user_id"))
        graft.ops.RuntimeFilter.bloomSemiJoin(
            table(s, d, "events"), keys, "user_id",
            estItems = 100000L, numBits = 1L << 20)
          .select("event_id", "user_id", "event_type")
    },

    // Streaming windowed aggregation, ORACLE-GREEN: the live pipeline
    // (readStream → watermark → tumbling window → memory sink,
    // AvailableNow) batch-replayed over the static events file and
    // hash-compared against DuckDB's time_bucket aggregate — the same
    // move q71 made for the report sink, so streaming windows are no
    // longer spec-only. Complete output mode emits every window (a
    // bounded replay; append mode would hold back windows the final
    // watermark never passes). `value` pre-converted to integer cents
    // so the windowed sum is order-insensitive; both engines bucket
    // from the same 1970-01-01 origin. NOTE: memory+complete is the
    // ORACLE-REPLAY harness shape, not the production sink — jobs use
    // foreachBatch (Streaming.writeBatchIdempotent) in update mode,
    // where each trigger carries only changed windows (StreamingSpec
    // pins the delta-fold equivalence).
    Q("q95_stream_windows",
      """SELECT time_bucket(INTERVAL '10 minutes', ts, TIMESTAMP '1970-01-01 00:00:00') AS win_start,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY win_start, event_type""".stripMargin) {
      (s, d) =>
        val stream = graft.io.Sources.eventsStream(s, d)
          .withColumn("value", graft.functions.Functions.cents(col("value")))
        val agg = graft.streaming.Streaming.windowedCounts(stream, "ts", "event_type",
          windowDur = "10 minutes", slide = "10 minutes", delay = "1 minute")
        val sinkName = "q95_stream_windows_sink"
        s.catalog.dropTempView(sinkName)
        val q = agg.writeStream.format("memory").queryName(sinkName)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        // awaitTermination returns FALSE on timeout without throwing —
        // unchecked, a timed-out replay would emit partial windows.
        try require(q.awaitTermination(300000),
          "q95: stream did not drain within 300s — partial windows")
        finally q.stop()
        s.table(sinkName)
          .select(col("win_start"), col("event_type"), col("n"),
            col("sum_value").cast("bigint").as("sum_cents"))
    },

    // Streaming SESSION windows, oracle-green via the q95 replay
    // pattern: per-user activity bursts separated by an hour of quiet
    // become one window (session_window + watermark, complete mode,
    // AvailableNow). The oracle re-derives sessions with the q23
    // lag/cumsum trick; the boundary is Spark's session semantics —
    // the window ends at last_event + gap EXCLUSIVE, so an event
    // exactly `gap` after the previous one starts a NEW session
    // (diff >= gap in the oracle's is_start, where q23's batch
    // formulation used strict >). Same replay-harness caveat as q95:
    // memory+complete is the oracle shape, foreachBatch+update is the
    // production sink.
    Q("q96_stream_sessions",
      """WITH marked AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 3600000000
        |              THEN 1 ELSE 0 END AS is_start
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT *, sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
        |                                ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked)
        |SELECT min(ts) AS sess_start, max(ts) + INTERVAL 1 HOUR AS sess_end,
        |       user_id, count(*) AS n,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM sess GROUP BY user_id, sid""".stripMargin) {
      (s, d) =>
        val stream = graft.io.Sources.eventsStream(s, d)
          .withColumn("value", graft.functions.Functions.cents(col("value")))
        val agg = graft.streaming.Streaming.sessionCounts(stream, "ts", "user_id",
          gap = "1 hour", delay = "1 minute")
        val sinkName = "q96_stream_sessions_sink"
        s.catalog.dropTempView(sinkName)
        val q = agg.writeStream.format("memory").queryName(sinkName)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        // Same timeout guard as q95 (false return = partial sessions).
        try require(q.awaitTermination(300000),
          "q96: stream did not drain within 300s — partial sessions")
        finally q.stop()
        s.table(sinkName)
          .select(col("sess_start"), col("sess_end"), col("user_id"), col("n"),
            col("sum_value").cast("bigint").as("sum_cents"))
    },

    // STREAM-STATIC enrichment — the most common production streaming
    // shape, declared standalone: the event stream joined per
    // micro-batch against a broadcast batch dimension (customer),
    // then watermark-windowed per enrichment attribute. The dim
    // broadcasts so enrichment is map-side with zero stream-side
    // shuffle, and Spark re-plans the static side per trigger (a dim
    // refreshed between triggers — an SCD2 current view — is picked
    // up live). LEFT join: an unmatched event surfaces as a null
    // nation, never vanishes. Oracle = the batch formulation over
    // the same tables (q95's replay discipline).
    Q("q126_stream_enrich",
      """SELECT time_bucket(INTERVAL '10 minutes', e.ts, TIMESTAMP '1970-01-01 00:00:00') AS win_start,
        |       CAST(c.c_nationkey AS INT) AS nationkey,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id
        |GROUP BY win_start, nationkey""".stripMargin) {
      (s, d) =>
        val stream = graft.io.Sources.eventsStream(s, d)
          .withColumn("value", graft.functions.Functions.cents(col("value")))
        val dim = graft.io.Sources.table(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey").cast("int").as("nationkey"))
        val enriched = graft.streaming.Streaming.enrich(
          stream, dim, col("c_custkey") === col("user_id"))
        val agg = enriched.withWatermark("ts", "1 minute")
          .groupBy(window(col("ts"), "10 minutes"), col("nationkey"))
          .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        val sinkName = "q126_stream_enrich_sink"
        s.catalog.dropTempView(sinkName)
        val q = agg.writeStream.format("memory").queryName(sinkName)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        try require(q.awaitTermination(300000),
          "q126: stream did not drain within 300s — partial windows")
        finally q.stop()
        s.table(sinkName)
          .select(col("window.start").as("win_start"), col("nationkey"),
            col("n"), col("sum_value").cast("bigint").as("sum_cents"))
    },

    // RANGE-framed window: the trailing 7-day spend per customer —
    // time-based moving aggregates are RANGE frames (all rows whose
    // ORDER value falls in the value interval), not ROWS frames (a
    // row count). The frame is tie-insensitive by construction — equal
    // days aggregate identically whatever their physical order — so
    // integer day/cents space keeps it hash-exact. One key shuffle,
    // one WindowExec.
    Q("q94_trailing_window",
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |                  datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS day,
        |                  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |           FROM orders)
        |SELECT o_custkey, o_orderkey, CAST(day AS BIGINT) AS day,
        |       CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY day
        |              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing7_cents,
        |       CAST(count(*) OVER (PARTITION BY o_custkey ORDER BY day
        |              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing7_orders
        |FROM o""".stripMargin) {
      (s, d) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey")).orderBy(col("day"))
          .rangeBetween(-6, Window.currentRow)
        table(s, d, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            datediff(col("o_orderdate").cast("date"),
              lit("1992-01-01").cast("date")).cast("bigint").as("day"),
            graft.functions.Functions.cents(col("o_totalprice")).as("cents"))
          .withColumn("trailing7_cents", sum(col("cents")).over(w).cast("bigint"))
          .withColumn("trailing7_orders", count(lit(1)).over(w).cast("bigint"))
          .select("o_custkey", "o_orderkey", "day",
            "trailing7_cents", "trailing7_orders")
    },

    // INTERSECT / EXCEPT — the set operators (SURVEY §2.8 lists only
    // UNION ALL in the reference; an engine needs all three). Both
    // branches share one distinct-by-key shape; segment labels make
    // the union one frame.
    Q("q88_set_ops",
      """WITH hi AS (SELECT c_custkey FROM customer WHERE c_acctbal >= 5000),
        |ev AS (SELECT DISTINCT user_id AS c_custkey FROM events)
        |SELECT 'active_rich' AS segment, c_custkey
        |FROM ((SELECT c_custkey FROM hi) INTERSECT (SELECT c_custkey FROM ev))
        |UNION ALL
        |SELECT 'rich_silent' AS segment, c_custkey
        |FROM ((SELECT c_custkey FROM hi) EXCEPT (SELECT c_custkey FROM ev))""".stripMargin) {
      (s, d) =>
        val hi = table(s, d, "customer")
          .filter(col("c_acctbal") >= 5000).select("c_custkey")
        val ev = table(s, d, "events")
          .select(col("user_id").as("c_custkey")).distinct()
        hi.intersect(ev).withColumn("segment", lit("active_rich"))
          .unionByName(hi.except(ev).withColumn("segment", lit("rich_silent")))
          .select("segment", "c_custkey")
    },

    // Equi-DEPTH histogram (deciles) — the boundary-based scale-safe
    // formulation: 9 exact percentile boundaries in integer cents
    // (one aggregate — q54 pins cross-engine percentile parity), then
    // bucket assignment as a broadcast map pass counting boundaries
    // strictly below each value. Deliberately NOT a global ntile()
    // window: ntile orders the entire table in ONE partition — the
    // canonical does-not-survive-100-TB plan; boundary counting gives
    // the same profiling read with two aggregation passes.
    Q("q89_equidepth_histogram", {
      val qList = (1 to 9).map(i => s"0.$i").mkString(", ")
      val oracleDecile = (1 to 9).map(i => s"CAST(c.cents > b.qs[$i] AS INT)")
        .mkString("1 + ", " + ", "")
      // ONE list-form quantile aggregate: the scalar form buffers (and
      // sorts) the whole column once PER percentile — 9x the work for
      // the same nine numbers (measured 2.7 s → ~0.4 s at sf0.1).
      s"""WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
         |b AS (SELECT quantile_cont(cents, [$qList]) AS qs FROM c),
         |t AS (SELECT c.cents, $oracleDecile AS decile FROM c CROSS JOIN b)
         |SELECT CAST(decile AS INT) AS decile, count(*) AS n,
         |       min(cents) AS min_cents, max(cents) AS max_cents
         |FROM t GROUP BY decile""".stripMargin
    }) {
      (s, d) =>
        val cents = table(s, d, "orders")
          .select(graft.functions.Functions.cents(col("o_totalprice")).as("cents"))
        val bounds = cents.agg(percentile(col("cents"),
          array((1 to 9).map(i => lit(i / 10.0)): _*)).as("qs"))
        val decile = (1 to 9).map(i =>
          when(col("cents") > col("qs").getItem(i - 1), 1).otherwise(0))
          .foldLeft(lit(1))(_ + _)
        cents.crossJoin(broadcast(bounds))
          .withColumn("decile", decile.cast("int"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"),
            min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"))
    },

    // Salted skew join: the hot-key mitigation (one hot key = one
    // straggler task at 100 TB). The oracle is the PLAIN join — the
    // whole point is that salting spreads rows without changing the
    // result, and the compare proves it row-for-row.
    Q("q19_salted_join",
      """SELECT e.event_id, e.user_id, c.c_mktsegment, e.event_type
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin) {
      (s, d) =>
        import graft.io.Sources.table
        val e = table(s, d, "events")
        val dim = table(s, d, "customer")
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        graft.ops.Skew.saltedJoin(e, dim, "user_id",
            saltBy = col("event_id"), salts = 8)
          .select(col("event_id"), col("user_id"), col("c_mktsegment"),
            col("event_type"))
    },

    // Gap-based sessionization: lag marks session starts, a running
    // sum numbers them — two stacked windows over ONE key shuffle,
    // then the per-session rollup. Money/value as integer cents so the
    // per-group sum is associative (hash-stable across engines).
    Q("q23_sessionize",
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) IS NULL
        |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000
        |              THEN 1 ELSE 0 END AS is_start
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT *, sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                ROWS UNBOUNDED PRECEDING) AS session_seq
        |  FROM marked)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |       min(ts) AS session_start, max(ts) AS session_end,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
        |FROM sess GROUP BY user_id, session_seq""".stripMargin) {
      (s, d) =>
        import graft.io.Sources.table
        val e = table(s, d, "events")
          .withColumn("value_cents", graft.functions.Functions.cents(col("value")))
        graft.ops.Sessionize.sessionStats(e, "user_id", "ts",
            tieBreak = col("event_id"), gapSeconds = 86400L, valueCol = "value_cents")
          .select(col("user_id"), col("session_seq"),
            col("session_start"), col("session_end"), col("n_events"),
            col("sum_value").as("sum_value_cents"))
    },

    // Ordered funnel analysis: per user, the earliest minimal
    // view → click → purchase chain (each step strictly after the
    // previous one's timestamp) — the product-analytics staple the
    // event stream exists for. Formulated as a conditional-min CHAIN
    // (filter → join on user → min), not a per-user sort: every
    // aggregate and join keys on user_id, so the plan is three partial
    // aggregates over one reusable hash partitioning and two
    // user-keyed equi joins — no window over the whole event stream,
    // no per-user array collection (collect_list-based funnels
    // materialize each user's full history; at 100 TB that's the OOM).
    Q("q75_funnel",
      """WITH s1 AS (SELECT user_id, min(ts) AS t_view FROM events
        |            WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, s1.t_view, min(e.ts) AS t_click
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t_view
        |       GROUP BY e.user_id, s1.t_view),
        |s3 AS (SELECT e.user_id, s2.t_view, s2.t_click, min(e.ts) AS t_purchase
        |       FROM events e JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
        |       GROUP BY e.user_id, s2.t_view, s2.t_click)
        |SELECT user_id, t_view, t_click, t_purchase FROM s3""".stripMargin) {
      (s, d) =>
        val e = table(s, d, "events").select("user_id", "event_type", "ts")
        val s1 = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t_view"))
        val s2 = e.filter(col("event_type") === "click")
          .join(s1, "user_id")
          .filter(col("ts") > col("t_view"))
          .groupBy("user_id", "t_view").agg(min(col("ts")).as("t_click"))
        e.filter(col("event_type") === "purchase")
          .join(s2, "user_id")
          .filter(col("ts") > col("t_click"))
          .groupBy("user_id", "t_view", "t_click")
          .agg(min(col("ts")).as("t_purchase"))
          .select("user_id", "t_view", "t_click", "t_purchase")
    },

    // CDC change log → SCD2 history: consecutive same-value rows
    // collapse into versions bounded [first observation, next change −
    // 1 s), open version = infinity. Two stacked windows, one key
    // shuffle, no joins — the batch consumer of a change-event stream.
    Q("q28_cdc_to_scd2",
      """WITH chg AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         CASE WHEN event_type IS DISTINCT FROM lag(event_type) OVER w
        |              THEN 1 ELSE 0 END AS is_chg
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_type, ts AS effective_from,
        |       coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                  - INTERVAL 1 SECOND,
        |                TIMESTAMP '9999-12-31 00:00:00') AS effective_to,
        |       'N' AS deleted_flg
        |FROM chg WHERE is_chg = 1""".stripMargin) {
      (s, d) =>
        import graft.io.Sources.table
        graft.ops.Scd2.fromChangeLog(
          table(s, d, "events").select("user_id", "event_type", "ts", "event_id"),
          keys = Seq("user_id"), tracked = Seq("event_type"),
          tsCol = "ts", tieBreak = col("event_id"))
          .select("user_id", "event_type", "effective_from", "effective_to",
            "deleted_flg")
    },

    // Exact distinct aggregation (oracle-checked); the sketch variant
    // is q22 (rows-only — HLL++ and DuckDB's sketch differ by design).
    Q("q21_distinct_exact",
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events
        |FROM events GROUP BY event_type""".stripMargin) {
      (s, d) =>
        import graft.io.Sources.table
        table(s, d, "events").groupBy("event_type").agg(
          countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))
    },

    // Mergeable-sketch aggregates: HLL++ distinct estimate and
    // approximate percentiles — the sub-linear-state path for 100 TB
    // rollups (exact distinct shuffles every key; the sketch shuffles
    // ~kilobytes per group). Sketch INTERNALS are engine-specific, so
    // the estimates themselves carry no cross-engine oracle — instead
    // the query emits the EXACT aggregates alongside integer flags
    // asserting each estimate sits inside its published error bound
    // (HLL++ rsd=0.02 → 5σ = 10 % — 3σ was stochastic by
    // construction, ~0.3 % flake odds per group with one flake on
    // record; 5σ keeps the gate machine-checked at ~10⁻⁷ while still
    // catching any real estimator defect by an order of magnitude.
    // percentile_approx accuracy=2000 → rank error ≤ n/2000 is a HARD
    // bound, checked via the estimate's own rank with one row of
    // floor/ceil slack). The oracle recomputes the exact aggregates
    // and pins every flag at 1: an out-of-bound sketch
    // hash-mismatches the row. Bounded verification, not rows-only.
    Q("q22_sketches",
      """SELECT event_type,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       1 AS hll_ok, 1 AS p50_ok, 1 AS p95_ok
        |FROM events GROUP BY event_type""".stripMargin) {
      (s, d) =>
        import graft.io.Sources.table
        val err = 1.0 / 2000 // percentile_approx's published rank error
        val e = table(s, d, "events")
          .select(col("event_type"), col("user_id"), col("value"))
        // Two separate aggregates instead of one: mixing countDistinct
        // with the other aggregates would plan an Expand (every fact
        // row duplicated into the shuffle). The value sketches run
        // over the raw rows; the user path first dedups (map-side
        // partial) and counts — and the HLL estimate moves WITH it,
        // because HLL is multiplicity-insensitive (same estimate over
        // deduped pairs as over the raw stream). The joined result
        // collapses to one row per event type and feeds two consumers
        // (rank re-scan broadcast + output join) — materialize once
        // (the q99 single-materialization discipline).
        val vals = e.groupBy("event_type").agg(
          percentile_approx(col("value"), lit(0.5), lit(2000)).as("p50_est"),
          percentile_approx(col("value"), lit(0.95), lit(2000)).as("p95_est"),
          count(col("value")).as("n_vals"),
          count(lit(1)).as("n_events"))
        val userStats = e.select("event_type", "user_id").distinct()
          .groupBy("event_type").agg(
            count(lit(1)).as("n_users"),
            approx_count_distinct(col("user_id"), rsd = 0.02).as("approx_users"))
        val sk = vals.join(userStats, Seq("event_type"))
          .localCheckpoint(true)
        val ranks = e
          .join(sk.select("event_type", "p50_est", "p95_est"), Seq("event_type"))
          .groupBy("event_type").agg(
            sum(when(col("value") <= col("p50_est"), 1L).otherwise(0L)).as("r50_le"),
            sum(when(col("value") < col("p50_est"), 1L).otherwise(0L)).as("r50_lt"),
            sum(when(col("value") <= col("p95_est"), 1L).otherwise(0L)).as("r95_le"),
            sum(when(col("value") < col("p95_est"), 1L).otherwise(0L)).as("r95_lt"))
        def rankOk(le: String, lt: String, q: Double) =
          (col(le) + 1 >= (lit(q) - err) * col("n_vals")) &&
            (col(lt) <= (lit(q) + err) * col("n_vals") + 1)
        sk.join(ranks, Seq("event_type")).select(
          col("event_type"), col("n_users"), col("n_events"),
          when(abs(col("approx_users") - col("n_users")) * 100 <= col("n_users") * 10, 1)
            .otherwise(0).cast("int").as("hll_ok"),
          when(col("p50_est").isNull, (col("n_vals") === 0).cast("int"))
            .otherwise(rankOk("r50_le", "r50_lt", 0.5).cast("int")).as("p50_ok"),
          when(col("p95_est").isNull, (col("n_vals") === 0).cast("int"))
            .otherwise(rankOk("r95_le", "r95_lt", 0.95).cast("int")).as("p95_ok"))
    },

    // Full-outer join with side flags — the join type the reference
    // never uses but any engine must have (and the SCD2 single-pass
    // merge is built on).
    Q("q24_outer_join",
      """WITH l AS (SELECT c_custkey AS k, c_mktsegment AS seg FROM customer WHERE c_custkey % 2 = 0),
        |r AS (SELECT c_custkey AS k, c_nationkey AS nat FROM customer WHERE c_custkey % 3 = 0)
        |SELECT coalesce(l.k, r.k) AS k, l.seg, r.nat,
        |       CAST(CASE WHEN l.k IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_left,
        |       CAST(CASE WHEN r.k IS NOT NULL THEN 1 ELSE 0 END AS INT) AS in_right
        |FROM l FULL OUTER JOIN r ON l.k = r.k""".stripMargin) {
      (s, d) =>
        import graft.io.Sources.table
        val c = table(s, d, "customer")
        val l = c.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey").as("lk"), col("c_mktsegment").as("seg"))
        val r = c.filter(col("c_custkey") % 3 === 0)
          .select(col("c_custkey").as("rk"), col("c_nationkey").as("nat"))
        l.join(r, col("lk") === col("rk"), "full_outer")
          .select(coalesce(col("lk"), col("rk")).as("k"), col("seg"), col("nat"),
            when(col("lk").isNotNull, 1).otherwise(0).cast("int").as("in_left"),
            when(col("rk").isNotNull, 1).otherwise(0).cast("int").as("in_right"))
    },

    // ROLLUP subtotals: region/nation revenue with grand totals —
    // multi-level aggregation in one pass (partial agg applies per
    // grouping set; no extra scans).
    Q("q25_rollup",
      """SELECT r.r_name, n.n_name,
        |       CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |       count(*) AS n_orders
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n   ON c.c_nationkey = n.n_nationkey
        |JOIN region r   ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP(r.r_name, n.n_name)""".stripMargin) {
      (s, d) =>
        import graft.io.Sources.table
        val o = table(s, d, "orders")
        val c = table(s, d, "customer")
        val n = table(s, d, "nation")
        val r = table(s, d, "region")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          // Project to unqualified names before rollup: the broadcast
          // wrapper re-wraps the frame, making dataset-qualified refs
          // ambiguous under the self-join check.
          .select(col("r_name"), col("n_name"), col("o_totalprice"))
          .rollup(col("r_name"), col("n_name"))
          .agg(sum(graft.functions.Functions.cents(col("o_totalprice"))).cast("bigint")
            .as("rev_cents"), count(lit(1)).as("n_orders"))
    },

    // Pivot: per-user event-type counts as fixed columns (explicit
    // value list — at scale an unbounded pivot is a driver-side
    // distinct; the fixed list keeps it a single pass).
    Q("q26_pivot",
      """SELECT user_id,
        |       CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |       CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view,
        |       CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase
        |FROM events GROUP BY user_id""".stripMargin) {
      (s, d) =>
        import graft.io.Sources.table
        table(s, d, "events")
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "view", "purchase"))
          .agg(count(lit(1)))
          .na.fill(0L, Seq("click", "view", "purchase"))
    },

    // Deterministic top-k per group: rank with explicit tiebreak,
    // keep k — one window shuffle, no global sort.
    Q("q27_topk_per_group",
      """WITH ranked AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |  FROM orders)
        |SELECT o_orderpriority, o_orderkey, price_cents, CAST(rnk AS BIGINT) AS rnk
        |FROM ranked WHERE rnk <= 3""".stripMargin) {
      (s, d) =>
        import graft.io.Sources.table
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        table(s, d, "orders")
          .withColumn("rnk", row_number().over(w).cast("bigint"))
          .filter(col("rnk") <= 3)
          .select(col("o_orderpriority"), col("o_orderkey"),
            graft.functions.Functions.cents(col("o_totalprice")).as("price_cents"),
            col("rnk"))
    },

    Q("q20_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin) {
      (s, d) =>
        table(s, d, "lineitem")
          .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(graft.functions.Functions.cents(col("l_quantity"))).cast("bigint")
              .as("sum_qty_cents"),
            sum(graft.functions.Functions.cents(col("l_extendedprice"))).cast("bigint")
              .as("sum_base_cents"),
            sum(graft.functions.Functions.cents(
              col("l_extendedprice") * (lit(1) - col("l_discount")))).cast("bigint")
              .as("sum_disc_cents"),
            count(lit(1)).as("count_order"))
    }
  )
}
