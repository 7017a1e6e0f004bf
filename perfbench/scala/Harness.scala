package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.{DriverManager, Timestamp}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import com.sun.management.GarbageCollectionNotificationInfo

import graft.SparkEntry
import graft.io.{Sources, TableStore}
import graft.ops.Pipeline

/** JVM side of the benchmark: drives one workload through the engine's
  * public entry points and writes raw measurements as JSON.
  *
  * Usage: Harness <key=value>... with keys
  *   workload = daily_replay | query_mix
  *   inputs   = generated input directory (gen.py output)
  *   work     = scratch directory for warehouses, registries, results
  *   ops      = timed days to replay, or passes over the query mix
  *   out      = path of the JSON result
  *   trace    = 0 (untraced Pipeline.run / query calls) or 1 (spans +
  *              listeners around the stage functions and query calls)
  *   queries  = comma-separated query names (query_mix)
  *
  * Untraced runs call `Pipeline.run` and `SparkEntry.queries`. Traced
  * runs alternate an untraced op with a traced one, so the same process
  * yields the tracing overhead; only traced ops feed the listeners.
  */
object Harness {

  private val nproc = Runtime.getRuntime.availableProcessors()
  private def now(): Long = System.nanoTime()
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9
  /** JVM start on the `now()` clock: set-up is timed from process start. */
  private val jvmStart = now() - (System.currentTimeMillis() -
    ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L

  // ── spans ───────────────────────────────────────────────────────
  final case class Span(id: Int, parent: Int, name: String, run: String,
                        start: Long, end: Long)
  private val spans = ArrayBuffer[Span]()
  private var spanStack: List[Int] = Nil
  private var runId = ""

  /** Times `f` as a span under the innermost open span. */
  private def span[A](name: String)(f: => A): A = {
    val id = spans.size + 1
    val parent = spanStack.headOption.getOrElse(0)
    spanStack = id :: spanStack
    val t0 = now()
    spans += Span(id, parent, name, runId, t0, t0) // placeholder, end set below
    try f finally {
      spans(id - 1) = spans(id - 1).copy(end = now())
      spanStack = spanStack.tail
    }
  }

  // ── engine listeners (traced ops only) ──────────────────────────
  final class Counters {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val runNanos = new AtomicLong; val shuffleBytes = new AtomicLong
    val outBytes = new AtomicLong
  }
  private val byLabel = new ConcurrentHashMap[String, Counters]()
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  private def counters(label: String) = byLabel.computeIfAbsent(label, _ => new Counters)
  private val LabelKey = "perfbench.label"

  private object EngineListener extends SparkListener {
    private def label(p: java.util.Properties) =
      Option(p).flatMap(x => Option(x.getProperty(LabelKey))).getOrElse("other")
    override def onJobStart(e: SparkListenerJobStart): Unit =
      counters(label(e.properties)).jobs.incrementAndGet(): Unit
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageLabel.put(e.stageInfo.stageId, label(e.properties)): Unit
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counters(stageLabel.getOrDefault(e.stageId, "other"))
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.runNanos.addAndGet(m.executorRunTime * 1000000L)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.outBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  final class StreamCounters {
    val batches = new AtomicLong; val addBatchMs = new AtomicLong
    val planningMs = new AtomicLong; val walCommitMs = new AtomicLong
  }
  private val streams = new ConcurrentHashMap[String, StreamCounters]()
  @volatile private var currentLabel = "other"

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val c = streams.computeIfAbsent(currentLabel, _ => new StreamCounters)
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      c.batches.incrementAndGet()
      c.addBatchMs.addAndGet(ms("addBatch"))
      c.planningMs.addAndGet(ms("queryPlanning"))
      c.walCommitMs.addAndGet(ms("walCommit"))
    }
  }

  /** Counts whole-stage codegen fallbacks from the engine's log. */
  private val codegenFallbacks = new ConcurrentHashMap[String, AtomicLong]()
  private def attachCodegenCounter(): Unit = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Whole-stage codegen disabled"))
          codegenFallbacks.computeIfAbsent(currentLabel, _ => new AtomicLong)
            .incrementAndGet(): Unit
      }
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, null, null)
    ctx.updateLoggers()
  }

  // ── session, heap ───────────────────────────────────────────────
  private def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark_local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Retained heap between operations: full collections, then the sum
    * of the heap pools' post-collection usage. The second collection
    * frees what the engine's weak-reference cleaners released after the
    * first. Taken after each operation, outside its timing. */
  private var peakRetainedHeap = 0L
  private def sampleRetainedHeap(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val live = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    peakRetainedHeap = math.max(peakRetainedHeap, live)
  }

  /** Heap occupancy right after every collection, as (GC start in ms
    * of JVM uptime, sum of the heap pools' after-GC usage), from the
    * collectors' JMX notifications. */
  private val afterGc = new ConcurrentLinkedQueue[(Long, Long)]()
  private def watchGc(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val gc = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
          val used = gc.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          afterGc.add((gc.getStartTime, used))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
  }
  private def uptimeMs(): Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Timed operations (uptime ms) whose collections count for the
    * in-operation peak. */
  private val heapWindows = ArrayBuffer[(Long, Long)]()
  /** The largest after-GC heap occupancy of any collection that started
    * inside an operation. It includes garbage promoted to the old
    * generation that no collection has reclaimed yet, so it moves from
    * run to run. Notifications arrive on their own thread, so wait
    * briefly for the last ones. */
  private def peakAfterGcInOps(): Long = {
    Thread.sleep(300)
    afterGc.asScala.collect { case (t, used)
      if heapWindows.exists { case (a, b) => t >= a && t <= b } => used }
      .foldLeft(0L)(math.max)
  }

  /** Data files (`part-*`) under `p`. */
  private def dataFiles(p: Path): Set[Path] =
    if (!Files.exists(p)) Set.empty
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.startsWith("part-"))
      .toSet

  // ── JSON out ────────────────────────────────────────────────────
  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${js(k)}: $v" }.mkString("{", ", ", "}")
  private def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString

  // ── pipeline workloads ──────────────────────────────────────────
  private val DbDdl = Seq(
    "CREATE TABLE cards(card_num VARCHAR(20) PRIMARY KEY, account VARCHAR(20), create_dt TIMESTAMP, update_dt TIMESTAMP)",
    "CREATE TABLE accounts(account VARCHAR(20) PRIMARY KEY, valid_to DATE, client VARCHAR(20), create_dt TIMESTAMP, update_dt TIMESTAMP)",
    "CREATE TABLE clients(client_id VARCHAR(20) PRIMARY KEY, last_name VARCHAR(40), first_name VARCHAR(40), patronymic VARCHAR(40), date_of_birth DATE, passport_num VARCHAR(20), passport_valid_to DATE, phone VARCHAR(20), create_dt TIMESTAMP, update_dt TIMESTAMP)")
  private val DbCols = Map(
    "cards" -> Seq("card_num", "account", "create_dt", "update_dt"),
    "accounts" -> Seq("account", "valid_to", "client", "create_dt", "update_dt"),
    "clients" -> Seq("client_id", "last_name", "first_name", "patronymic", "date_of_birth",
      "passport_num", "passport_valid_to", "phone", "create_dt", "update_dt"))

  /** Applies a change log (`table;op;values...`, op I/U/D) to the
    * source database. */
  private def applyDbOps(url: String, file: Path): Unit = {
    val conn = DriverManager.getConnection(url)
    conn.setAutoCommit(false)
    try {
      val ps = DbCols.map { case (t, cols) =>
        t -> Map(
          "I" -> conn.prepareStatement(
            s"INSERT INTO $t(${cols.mkString(",")}) VALUES (${cols.map(_ => "?").mkString(",")})"),
          "U" -> conn.prepareStatement(
            s"UPDATE $t SET ${cols.tail.map(_ + " = ?").mkString(", ")} WHERE ${cols.head} = ?"),
          "D" -> conn.prepareStatement(s"DELETE FROM $t WHERE ${cols.head} = ?"))
      }
      def bind(st: java.sql.PreparedStatement, i: Int, col: String, v: String): Unit =
        if (v.isEmpty) st.setNull(i, java.sql.Types.VARCHAR)
        else if (col.endsWith("_dt")) st.setTimestamp(i, Timestamp.valueOf(v))
        else if (Set("valid_to", "date_of_birth", "passport_valid_to")(col))
          st.setDate(i, java.sql.Date.valueOf(v))
        else st.setString(i, v)
      Files.readAllLines(file).asScala.filter(_.nonEmpty).foreach { line =>
        val f = line.split(";", -1)
        val (t, op, vals) = (f(0), f(1), f.drop(2))
        val cols = DbCols(t)
        val st = ps(t)(op)
        op match {
          case "I" => cols.indices.foreach(i => bind(st, i + 1, cols(i), vals(i)))
          case "U" =>
            cols.indices.tail.foreach(i => bind(st, i, cols(i), vals(i)))
            st.setString(cols.size, vals(0))
          case "D" => st.setString(1, vals(0))
        }
        st.addBatch()
      }
      ps.values.flatMap(_.values).foreach { st => st.executeBatch(); st.close() }
      conn.commit()
    } finally conn.close()
  }

  private def land(inputs: String, slot: Int, src: Path): Unit = {
    val dir = Paths.get(inputs, "land", f"day_$slot%02d")
    Files.list(dir).iterator().asScala.foreach(f =>
      Files.copy(f, src.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }

  private final case class Day(slot: Int, reportDt: Timestamp)
  private def days(inputs: String): Seq[Day] =
    Files.readAllLines(Paths.get(inputs, "days.txt")).asScala.filter(_.nonEmpty).map { l =>
      val Array(slot, _, reportDt, _, _) = l.split(";")
      Day(slot.toInt, Timestamp.valueOf(reportDt))
    }.toSeq

  private def pipeline(cfg: Map[String, String]): String = {
    val inputs = cfg("inputs"); val work = cfg("work")
    val trace = cfg("trace") == "1"
    val nOps = cfg("ops").toInt
    val schedule = days(inputs)
    require(schedule.size > nOps, s"inputs hold ${schedule.size - 1} days, $nOps requested")
    val failures = ArrayBuffer[String]()

    // Set-up: session, source database, day 0 (the initial load) and
    // the all-at-once run below.
    watchGc()
    val spark = session(work)
    val src = Paths.get(work, "src")
    Files.createDirectories(src)
    val store = new TableStore(spark, Paths.get(work, "wh").toString)
    val url = s"jdbc:derby:memory:perfbench_${ProcessHandle.current.pid};create=true"
    val jdbc = Sources.JdbcSpec(url = url, table = "", user = "", password = "",
      driver = "org.apache.derby.jdbc.EmbeddedDriver")
    val conn = DriverManager.getConnection(url)
    try DbDdl.foreach(ddl => conn.createStatement().execute(ddl)) finally conn.close()
    applyDbOps(url, Paths.get(inputs, "db", "init.csv"))
    land(inputs, 0, src)
    Pipeline.run(spark, store, src.toString, schedule.head.reportDt, dimDb = Some(jdbc))
    // The reference of the replay = all-at-once check: the file-sourced
    // stages run once over every delivery, the timed days' too, into a
    // warehouse of their own. Run here, it also takes the file stages
    // through their incremental paths before the first timed day.
    val onceFrom = now()
    val allSrc = Paths.get(work, "src_all")
    Files.createDirectories(allSrc)
    (0 to nOps).foreach(slot => land(inputs, slot, allSrc))
    val once = new TableStore(spark, Paths.get(work, "wh_once").toString)
    try {
      Pipeline.runTransactions(spark, once, allSrc.toString)
      Pipeline.runBlacklist(spark, once, allSrc.toString)
      Pipeline.runTerminals(spark, once, allSrc.toString)
    } catch { case e: Throwable => failures += s"all-at-once run: ${e.getMessage}" }
    val onceS = secs(onceFrom, now())
    val setupS = secs(jvmStart, now())
    sampleRetainedHeap()
    peakRetainedHeap = 0L
    if (trace) attachCodegenCounter()

    val opS = ArrayBuffer[(Int, Boolean, Double)]()
    val whPath = Paths.get(work, "wh")
    val stageFiles = scala.collection.mutable.LinkedHashMap[String, Long]()
    val jdbcRows = scala.collection.mutable.LinkedHashMap[String, Long]()
    def factRows(): Long = if (store.exists("fact_transactions"))
      store.read("fact_transactions").count() else 0L
    val rows0 = factRows()
    for (day <- schedule.slice(1, nOps + 1)) {
      val traced = trace && day.slot % 2 == 0
      applyDbOps(url, Paths.get(inputs, "db", f"ops_${day.slot}%02d.csv"))
      land(inputs, day.slot, src)
      runId = s"day_${day.slot}"
      if (traced) spark.sparkContext.addSparkListener(EngineListener)
      val heapFrom = uptimeMs()
      val t0 = now()
      try {
        if (!traced)
          Pipeline.run(spark, store, src.toString, day.reportDt, dimDb = Some(jdbc))
        else span("pipeline.day") {
          def stage(name: String)(f: => Unit): Unit = {
            val before = dataFiles(whPath)
            spark.sparkContext.setLocalProperty(LabelKey, s"stage.$name")
            try span(s"stage.$name")(f)
            finally spark.sparkContext.setLocalProperty(LabelKey, null)
            stageFiles(name) = stageFiles.getOrElse(name, 0L) +
              (dataFiles(whPath) -- before).size
          }
          def dim(name: String, d: Pipeline.DimSource): Unit = {
            stage(name)(Pipeline.runJdbcDim(spark, store, d, day.reportDt))
            jdbcRows(name) = jdbcRows.getOrElse(name, 0L) +
              (if (store.exists(s"stg_$name")) store.read(s"stg_$name").count() else 0L)
          }
          stage("transactions")(Pipeline.runTransactions(spark, store, src.toString))
          stage("blacklist")(Pipeline.runBlacklist(spark, store, src.toString))
          stage("terminals")(Pipeline.runTerminals(spark, store, src.toString))
          dim("cards", Pipeline.cardsDim(jdbc))
          dim("accounts", Pipeline.accountsDim(jdbc))
          dim("clients", Pipeline.clientsDim(jdbc))
          stage("report")(Pipeline.runReport(spark, store, day.reportDt))
        }
      } catch { case e: Throwable =>
        failures += s"day ${day.slot}: ${e.getMessage}"
      }
      opS += ((day.slot, traced, secs(t0, now())))
      heapWindows += ((heapFrom, uptimeMs()))
      if (traced) spark.sparkContext.removeSparkListener(EngineListener)
      sampleRetainedHeap()
    }
    val rowsLanded = factRows() - rows0
    spark.stop()

    obj(Seq(
      "setup_s" -> num(setupS),
      "ops" -> arr(opS.map { case (slot, tr, s) =>
        obj(Seq("slot" -> slot.toString, "traced" -> tr.toString, "s" -> num(s))) }.toSeq),
      "rows_landed" -> rowsLanded.toString,
      "warehouse" -> js(whPath.toString),
      "warehouse_once" -> js(Paths.get(work, "wh_once").toString),
      "all_at_once_s" -> num(onceS),
      "peak_live_heap_bytes" -> peakRetainedHeap.toString,
      "peak_after_gc_in_ops_bytes" -> peakAfterGcInOps().toString,
      "stage_files" -> obj(stageFiles.toSeq.map { case (k, v) => k -> v.toString }),
      "jdbc_rows" -> obj(jdbcRows.toSeq.map { case (k, v) => k -> v.toString }),
      "failures" -> arr(failures.map(js).toSeq)) ++ traceFields())
  }

  // ── query mix ───────────────────────────────────────────────────
  private def queryMix(cfg: Map[String, String]): String = {
    val inputs = cfg("inputs"); val work = cfg("work")
    val trace = cfg("trace") == "1"
    val passes = cfg("ops").toInt
    val names = cfg("queries").split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val failures = ArrayBuffer[String]()
    val registryRoot = Paths.get(work, "registry")
    System.setProperty("graft.index.root", registryRoot.toString)
    watchGc()
    val spark = session(work)
    // One execution materializes every row of the query's plan, as
    // graft.Bench times it, and returns the row count for the checks.
    def exec(q: String): Long =
      SparkEntry.queries(q)(spark, inputs).queryExecution.toRdd.count()

    // Set-up: the cold registry build. One untimed execution of each
    // query builds every index it reads and warms the JIT; it writes the
    // query's result as parquet (timestamps canonical, one file), the
    // form the oracle check reads.
    val resultDir = Paths.get(work, "results")
    val r0 = now()
    val setupQueryS = names.map { q =>
      val t0 = now()
      try graft.Verify.canonTimestamps(SparkEntry.queries(q)(spark, inputs))
        .coalesce(1).write.mode("overwrite").parquet(resultDir.resolve(q).toString)
      catch { case e: Throwable => failures += s"$q (setup): ${e.getMessage}" }
      spark.catalog.clearCache()
      q -> secs(t0, now())
    }
    val registryS = secs(r0, now())
    val setupS = secs(jvmStart, now())
    sampleRetainedHeap()
    peakRetainedHeap = 0L
    if (trace) attachCodegenCounter()

    val execs = ArrayBuffer[(Int, String, Boolean, Double, Long)]()
    val passS = ArrayBuffer[(Int, Boolean, Double)]()
    for (p <- 0 until passes) {
      val traced = trace && p % 2 == 1
      runId = s"pass_$p"
      if (traced) {
        spark.sparkContext.addSparkListener(EngineListener)
        spark.streams.addListener(StreamListener)
      }
      val heapFrom = uptimeMs()
      val p0 = now()
      def one(q: String): Unit = {
        val t0 = now()
        val rows = try {
          if (!traced) exec(q)
          else {
            currentLabel = s"query.$q"
            spark.sparkContext.setLocalProperty(LabelKey, s"query.$q")
            try span(s"query.$q")(exec(q))
            finally {
              spark.sparkContext.setLocalProperty(LabelKey, null)
              currentLabel = "other"
            }
          }
        } catch { case e: Throwable => failures += s"$q (pass $p): ${e.getMessage}"; -1L }
        execs += ((p, q, traced, secs(t0, now()), rows))
        spark.catalog.clearCache()
      }
      if (traced) span("query.mix")(names.foreach(one)) else names.foreach(one)
      passS += ((p, traced, secs(p0, now())))
      heapWindows += ((heapFrom, uptimeMs()))
      if (traced) {
        spark.sparkContext.removeSparkListener(EngineListener)
        spark.streams.removeListener(StreamListener)
      }
      sampleRetainedHeap()
    }

    Files.createDirectories(resultDir)
    Files.writeString(resultDir.resolve("oracle_sql.json"), obj(names.flatMap(q =>
      SparkEntry.oracleSql.get(q).map(sql => q -> js(sql)))))
    spark.stop()
    val (regTables, regBytes) = {
      val dirs = if (!Files.exists(registryRoot)) Seq.empty
        else Files.walk(registryRoot).iterator().asScala
          .filter(p => p.getFileName.toString == "_SUCCESS").toSeq
      (dirs.size, dataFiles(registryRoot).toSeq.map(Files.size).sum)
    }

    obj(Seq(
      "setup_s" -> num(setupS),
      "registry_build_s" -> num(registryS),
      "setup_query_s" -> obj(setupQueryS.map { case (q, t) => q -> num(t) }),
      "registry_tables" -> regTables.toString,
      "registry_bytes" -> regBytes.toString,
      "ops" -> arr(execs.map { case (p, q, tr, s, rows) =>
        obj(Seq("pass" -> p.toString, "query" -> js(q), "traced" -> tr.toString, "s" -> num(s),
          "rows" -> rows.toString)) }.toSeq),
      "passes" -> arr(passS.map { case (p, tr, s) =>
        obj(Seq("pass" -> p.toString, "traced" -> tr.toString, "s" -> num(s))) }.toSeq),
      "results" -> js(resultDir.toString),
      "peak_live_heap_bytes" -> peakRetainedHeap.toString,
      "peak_after_gc_in_ops_bytes" -> peakAfterGcInOps().toString,
      "failures" -> arr(failures.map(js).toSeq)) ++ traceFields())
  }

  private def traceFields(): Seq[(String, String)] = Seq(
    "nproc" -> nproc.toString,
    "spans" -> arr(spans.map(s => obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "name" -> js(s.name), "run" -> js(s.run), "start_ns" -> s.start.toString,
      "end_ns" -> s.end.toString))).toSeq),
    "engine" -> obj(byLabel.asScala.toSeq.sortBy(_._1).map { case (k, c) => k -> obj(Seq(
      "jobs" -> c.jobs.get.toString, "tasks" -> c.tasks.get.toString,
      "task_run_s" -> num(c.runNanos.get / 1e9), "shuffle_bytes" -> c.shuffleBytes.get.toString,
      "output_bytes" -> c.outBytes.get.toString)) }),
    "streams" -> obj(streams.asScala.toSeq.sortBy(_._1).map { case (k, c) => k -> obj(Seq(
      "batches" -> c.batches.get.toString, "add_batch_ms" -> c.addBatchMs.get.toString,
      "planning_ms" -> c.planningMs.get.toString, "wal_commit_ms" -> c.walCommitMs.get.toString)) }),
    "codegen_fallbacks" -> obj(codegenFallbacks.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> v.get.toString }))

  def main(args: Array[String]): Unit = {
    val cfg = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val json = cfg("workload") match {
      case "daily_replay" => pipeline(cfg)
      case "query_mix" => queryMix(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.writeString(Paths.get(cfg("out")), json)
  }
}
