package graft.ops

import java.sql.Timestamp
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.Functions._
import graft.io.{Sources, TableStore}

/** End-to-end pipeline orchestration — the engine's counterpart of the
  * reference's `main.py:47-50` stage chain: CSV facts → staging →
  * idempotent warehouse append; full-snapshot dimension files → SCD2
  * merge; then the windowed fraud report appended per run. One
  * SparkSession drives every stage (the reference's process-per-stage
  * boundary disappears; SURVEY.md §3.1): [[run]] runs the load stages
  * concurrently, as concurrent jobs on that session, and the report
  * after all of them — see [[run]] for the failure semantics.
  *
  * Faithfully kept observable semantics:
  *   - per-file watermark gate `file_date > watermark`
  *     (`transaction.py:51`) with the watermark advanced to the LAST
  *     processed file's max — not "next date" (`transaction.py:102`,
  *     SURVEY.md §7.4f);
  *   - skip-if-no-rows guards (`cards.py:71,196-197`);
  *   - anti-join insert makes fact replay duplicate-free (J1) while the
  *     report append is deliberately NOT idempotent (`report.py:63-69`,
  *     SURVEY.md §5.1) — re-running the report stage appends again;
  *   - the terminals-style delete clock = the file date
  *     (`terminals.py:172`).
  *
  * Scale notes: each stage is one lineage DAG ending in one write; the
  * only shuffles are the SCD2 key joins and the report window. Staging
  * is truncate-reload (bounded), facts are append-only (no rewrite of
  * history), and the dimension swap rewrites only the dimension.
  */
object Pipeline {

  /** Reference `transaction.py:16` staging columns. */
  val TxSchema: Seq[String] = Seq("transaction_id", "transaction_date",
    "amount", "card_num", "oper_type", "oper_result", "terminal")
  val TermSchema: Seq[String] = Seq("terminal_id", "terminal_type", "terminal_city")
  /** Reference `black_list.py:16` staging columns (the xlsx sheet ships
    * `date` + `passport`; promotion renames to the fact's
    * `passport_num`/`entry_dt` — `black_list.py:17`). */
  val BlacklistSchema: Seq[String] = Seq("date", "passport")

  private val dimStruct = StructType(Seq(
    StructField("terminal_id", StringType),
    StructField("terminal_type", StringType),
    StructField("terminal_city", StringType),
    StructField("effective_from", TimestampType),
    StructField("effective_to", TimestampType),
    StructField("deleted_flg", StringType)))

  private val factStruct = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("transaction_date", TimestampType),
    StructField("amount", DecimalType(15, 2)),
    StructField("card_num", StringType),
    StructField("oper_type", StringType),
    StructField("oper_result", StringType),
    StructField("terminal", StringType)))

  private val blacklistStruct = StructType(Seq(
    StructField("passport_num", StringType),
    StructField("entry_dt", DateType)))

  private def isoToTs(iso: String): Timestamp = Timestamp.valueOf(s"$iso 00:00:00")

  /** Shared stage skeleton: discover mask-matching files newer than
    * the `wmKey` watermark in chronological order; per file, stage it
    * and hand (stagedFrame, fileDateIso) to the stage body, then
    * advance the watermark. The A3 skip-if-no-rows guard, the watermark
    * and archiving live here once. The guard's row count and the
    * watermark's `max(maxDate)` (a DATE over the staged columns) are
    * observed on the staging write itself ([[stageObserved]]): a file
    * with no rows leaves the watermark untouched; otherwise it advances
    * to that max, or to the file date when `maxDate` is not given or
    * is null on every row. Every listed file's name date is parsed
    * before the first file is staged, so a file with an impossible
    * date fails the stage with nothing staged. A file that fails to
    * load is rethrown naming the stage (`wmKey`) and the file, with the
    * failure as its cause; the watermark stays at the last loaded
    * file, so a rerun after the file is fixed loads it. */
  private def processFiles(spark: SparkSession, store: TableStore,
                           srcDir: String, mask: String, wmKey: String,
                           stgTable: String, archive: Boolean,
                           maxDate: Option[Column] = None)
                          (stage: (String, SparkSession) => DataFrame)
                          (body: (DataFrame, String) => Unit): Unit = {
    val wmIso = Incremental.readWatermark(store, "stg", wmKey).toString.take(10)
    val files = Sources.listFilesChronological(srcDir, mask)
      .map(f => f -> Sources.fileNameDateIso(f.getFileName.toString).get)
    files.foreach { case (f, fileDate) =>
      if (fileDate > wmIso) { // F12: ISO strings compare chronologically
        try {
          val (rows, fileMax) = stageObserved(store, stgTable, stage(f.toString, spark), maxDate)
          if (rows > 0) { // A3 guard (cards.py:71)
            body(store.read(stgTable), fileDate)
            Incremental.advance(store, "stg", wmKey,
              isoToTs(fileMax.fold(fileDate)(_.toString)))
          }
        } catch { case NonFatal(e) =>
          throw new IllegalStateException(
            s"$wmKey stage: file ${f.getFileName} failed to load: ${e.getMessage}", e)
        }
        if (archive) Sources.archive(f): Unit
      }
    }
  }

  /** K1 truncate-and-reload of staging table `stg` with `df`, observing
    * on that write's own job its row count and `max(of)` (None when `of`
    * is not given or its max is null): the guard and the watermark
    * need no job of their own, and are exact. */
  private def stageObserved(store: TableStore, stg: String, df: DataFrame,
                            of: Option[Column]): (Long, Option[Any]) = {
    val seen = Observation()
    val metrics = count(lit(1)).as("rows") +: of.map(max(_).as("max")).toSeq
    store.overwrite(stg, df.observe(seen, metrics.head, metrics.tail: _*))
    val m = seen.get
    (m("rows").asInstanceOf[Long], m.get("max").flatMap(Option(_)))
  }

  /** Fact stage (`transaction.py` analog): per file, promote typed
    * rows via anti-join append; watermark = max(transaction_date) over
    * THIS file's staging (the reference's truncate-per-file loop makes
    * it the last file's max), observed on the staging write, falling
    * back to the file date when every row's date is blank (read as
    * null). A non-blank `transaction_date` that is not a timestamp
    * (e.g. `garbage`) fails the file under Spark's ANSI cast, as an
    * insert into the reference's Postgres timestamp column aborts: a
    * guessed date would feed the fraud rules a wrong time. The stage
    * then stops naming the file, with the fact table and watermark as
    * the previous file left them (see [[processFiles]]). */
  def runTransactions(spark: SparkSession, store: TableStore, srcDir: String,
                      archive: Boolean = false): Unit =
    processFiles(spark, store, srcDir, "transactions_\\d{8}\\.txt",
        "transactions", "stg_transactions", archive,
        maxDate = Some(to_date(col("transaction_date").cast(TimestampType)))) {
      (path, s) => Sources.csv(s, path, Sources.stringSchema(TxSchema: _*))
    } { (staged, _) =>
      val typed = staged.select(
        col("transaction_id"),
        col("transaction_date").cast(TimestampType).as("transaction_date"),
        parseEuroDecimal(col("amount")).as("amount"),
        col("card_num"), col("oper_type"), col("oper_result"), col("terminal"))
      val fact = store.readOr("fact_transactions", factStruct)
      store.append("fact_transactions",
        AntiInsert.newRows(typed, fact, Seq("transaction_id")))
    }

  /** Passport-blacklist stage (`black_list.py` analog): `.xlsx`
    * workbooks read by [[graft.io.Sources.excel]]
    * (`passport_blacklist_*.xlsx`, sheet `blacklist`), promotion
    * renames `date`/`passport` → `entry_dt`/`passport_num`
    * (`black_list.py:16-17,73`), anti-join append, and the A2
    * watermark semantics — the file date folded in as a constant
    * (`black_list.py:97`), NOT max over staging. */
  def runBlacklist(spark: SparkSession, store: TableStore, srcDir: String,
                   archive: Boolean = false): Unit =
    processFiles(spark, store, srcDir, "passport_blacklist_\\d{8}\\.xlsx",
        "blacklist", "stg_blacklist", archive) {
      (path, s) => Sources.excel(s, path, "blacklist",
        Sources.stringSchema(BlacklistSchema: _*))
    } { (staged, _) => // A2: the watermark is the file date
      val typed = staged.select(col("passport").as("passport_num"),
        col("date").cast(DateType).as("entry_dt"))
      val fact = store.readOr("fact_blacklist", blacklistStruct)
      store.append("fact_blacklist",
        AntiInsert.newRows(typed, fact, Seq("passport_num")))
    }

  /** Dimension stage (`terminals.py` analog): each full-snapshot file
    * newer than the watermark is staged and SCD2-merged; the file date
    * is both the version-open timestamp and the delete clock. The
    * merged snapshot replaces the dimension through
    * `TableStore.swapSnapshot`. */
  def runTerminals(spark: SparkSession, store: TableStore, srcDir: String,
                  archive: Boolean = false): Unit =
    processFiles(spark, store, srcDir, "terminals_\\d{8}\\.txt",
        "terminals", "stg_terminals", archive) {
      (path, s) => Sources.csv(s, path, Sources.stringSchema(TermSchema: _*))
    } { (batch, fileDate) =>
      val ts = lit(isoToTs(fileDate))
      val dim = store.readOr("dim_terminals_hist", dimStruct)
      store.swapSnapshot("dim_terminals_hist",
        Scd2.merge(dim, batch, Seq("terminal_id"), TermSchema.tail,
          batchTs = ts,
          deleteKeys = Some(batch.select("terminal_id")),
          deleteTs = Some(ts)))
    }

  /** One JDBC-sourced SCD2 dimension: where it comes from, what it's
    * called, and which source columns map to which dimension columns
    * (`(source, dim)` pairs; the key pair first — the reference renames
    * on promote, e.g. `account` → `account_num`, `cards.py:92`). */
  final case class DimSource(jdbc: Sources.JdbcSpec, dimTable: String,
                             wmKey: String, key: (String, String),
                             tracked: Seq[(String, String)])

  /** The reference's three JDBC dimensions (`cards.py` / `accounts.py`
    * / `clients.py` variable headers), parameterized by connection —
    * each pins its own source table name (`source_table_name`). */
  def cardsDim(jdbc: Sources.JdbcSpec): DimSource =
    DimSource(jdbc.copy(table = "cards"), "dim_cards_hist", "cards",
      "card_num" -> "card_num", Seq("account" -> "account_num"))
  def accountsDim(jdbc: Sources.JdbcSpec): DimSource =
    DimSource(jdbc.copy(table = "accounts"), "dim_accounts_hist", "accounts",
      "account" -> "account_num",
      Seq("valid_to" -> "valid_to", "client" -> "client"))
  def clientsDim(jdbc: Sources.JdbcSpec): DimSource =
    DimSource(jdbc.copy(table = "clients"), "dim_clients_hist", "clients",
      "client_id" -> "client_id",
      Seq("last_name", "first_name", "patronymic", "date_of_birth",
        "passport_num", "passport_valid_to", "phone").map(c => c -> c))

  /** JDBC-incremental dimension stage (`cards.py:35-202` and its
    * accounts/clients siblings): the LIVE database flavor of the SCD2
    * flow, end-to-end —
    *
    *   1. read the dimension's watermark (coalesce to 1900-01-01,
    *      `cards.py:37-47`);
    *   2. incremental extract over JDBC: rows with
    *      `coalesce(update_dt, create_dt) > watermark`
    *      (`cards.py:52-58`), truncate-reloaded into staging (K1), with
    *      its row count and `max(coalesce(update_dt, create_dt))`
    *      observed on that staging write's own job;
    *   3. skip-if-no-rows guard (`cards.py:71`) on the observed count;
    *   4. full key snapshot into the delete-staging (`cards.py:73-82`);
    *   5. SCD2 merge with the reference's PER-ROW version clocks: new
    *      keys open at their `create_dt` (`cards.py:98`), changed keys
    *      open at `update_dt` and close their predecessor at
    *      `update_dt − 1 s` (`cards.py:117,126`), deletes are marked
    *      at `runTs` — the pinned stand-in for the reference's `now()`
    *      (`cards.py:154`);
    *   6. watermark advanced to the observed
    *      `max(coalesce(update_dt, create_dt))` over THIS extract's
    *      staging (`cards.py:192-196`).
    *
    * Scale notes: the watermark predicate bounds every extract to the
    * changed rows, so per-run JDBC volume scales with the delta, not
    * the source (give the spec partition bounds for a parallel pull);
    * the merge is the same single-pass full-outer+explode as the file
    * dimensions. The full-key snapshot (step 4) is key-only — the one
    * unavoidable full-table touch delete detection needs. */
  def runJdbcDim(spark: SparkSession, store: TableStore,
                 d: DimSource, runTs: Timestamp): Unit = {
    val dimKey = d.key._2
    val wm = Incremental.readWatermark(store, "stg", d.wmKey)
    def source() = Sources.jdbcReader(spark, d.jdbc).load().select(
      (d.key +: d.tracked).map { case (s, t) => col(s).as(t) } ++ Seq(
        col("create_dt").cast(TimestampType).as("create_dt"),
        col("update_dt").cast(TimestampType).as("update_dt")): _*)
    val changed = coalesce(col("update_dt"), col("create_dt"))
    val (rows, newMax) = stageObserved(store, s"stg_${d.wmKey}",
      Sources.incremental(source(), "update_dt", "create_dt", wm), Some(changed))
    if (rows > 0) { // A3 guard (cards.py:71)
      val staged = store.read(s"stg_${d.wmKey}")
      store.overwrite(s"stg_${d.wmKey}_del", source().select(dimKey))
      val dimSchema = StructType(
        staged.schema.filterNot(f => Seq("create_dt", "update_dt").contains(f.name)) ++ Seq(
          StructField("effective_from", TimestampType),
          StructField("effective_to", TimestampType),
          StructField("deleted_flg", StringType)))
      val dim = store.readOr(d.dimTable, dimSchema)
      store.swapSnapshot(d.dimTable, Scd2.merge(
        dim, staged, keys = Seq(dimKey), tracked = d.tracked.map(_._2),
        batchTs = changed,
        deleteKeys = Some(store.read(s"stg_${d.wmKey}_del")),
        deleteTs = Some(lit(runTs)),
        passthrough = Seq("create_dt", "update_dt"),
        newTs = Some(col("create_dt"))))
      newMax.foreach(t => Incremental.advance(store, "stg", d.wmKey, t.asInstanceOf[Timestamp]))
    }
  }

  /** Report stage — the FULL `report.py:12-113` chain:
    *
    *   - `cl` CTE: facts as-of joined to the live terminal version at
    *     transaction time (J6, strict bounds, `deleted_flg='N'`),
    *     then the trim-normalized cards join (J7, `report.py:42-43`)
    *     and the accounts → clients → passport-blacklist enrichment
    *     legs (J8, `report.py:44-49`). Faithfully UNBOUNDED on the
    *     history dims: the reference joins EVERY version of
    *     cards/accounts/clients (no effective_to predicate), so a
    *     multi-version key fans its transactions out — q17 pins these
    *     semantics against the oracle; here they run E2E.
    *   - `lg` CTE: all nine lags over ONE window (card, ordered by
    *     transaction time with an id tiebreak — retried tasks must
    *     reproduce identical rows; `report.py:50-62`).
    *   - four rule branches UNION ALL'd into the reference's report
    *     shape (event_dt, passport, fio, phone, event_type,
    *     report_dt), appended — deliberately non-idempotent
    *     (`report.py:63-69`).
    *
    * Scale notes: one window shuffle; the dim joins stay equi-keyed
    * (AQE broadcasts the small sides); all four rules filter the same
    * `cl`/`lg` subtree, so the star is evaluated once, not four times. */
  def runReport(spark: SparkSession, store: TableStore,
                reportDt: Timestamp): Unit = {
    val emptyDim = (d: DimSource) => StructType(
      (d.key +: d.tracked).map(c => StructField(c._2, StringType)) ++ Seq(
        StructField("effective_from", TimestampType),
        StructField("effective_to", TimestampType),
        StructField("deleted_flg", StringType)))
    val noDb = Sources.JdbcSpec("", "", "", "")
    store.append("rep_fraud", reportFrame(
      facts = store.readOr("fact_transactions", factStruct),
      ter = store.readOr("dim_terminals_hist", dimStruct),
      cards = store.readOr("dim_cards_hist", emptyDim(cardsDim(noDb))),
      accounts = store.readOr("dim_accounts_hist", emptyDim(accountsDim(noDb))),
      clients = store.readOr("dim_clients_hist", emptyDim(clientsDim(noDb))),
      bl = store.readOr("fact_blacklist", blacklistStruct),
      reportDt = reportDt))
  }

  /** The report query itself, over explicit inputs (separated from the
    * store plumbing so plan discipline is testable — PlanSpec asserts
    * one WindowExec and no cartesian over this frame). */
  def reportFrame(facts: DataFrame, ter: DataFrame, cards: DataFrame,
                  accounts: DataFrame, clients: DataFrame, bl: DataFrame,
                  reportDt: Timestamp): DataFrame = {
    // cl (report.py:12-49): terminals as-of + trim-keyed cards + the
    // unbounded enrichment legs.
    val cl = Temporal.asOfJoin(facts, ter,
        factKey = facts("terminal"), dimKey = ter("terminal_id"),
        factTs = facts("transaction_date"))
      .join(cards, trim(facts("card_num")) === trim(cards("card_num")), "left")
      .join(accounts, cards("account_num") === accounts("account_num"), "left")
      .join(clients, accounts("client") === clients("client_id"), "left")
      .join(bl, trim(clients("passport_num")) === trim(bl("passport_num")), "left")
      .withColumn("fio", fio(clients("last_name"), clients("first_name"),
        clients("patronymic")))
      .withColumn("bl_entry_dt",
        coalesce(bl("entry_dt").cast(TimestampType), InfinityTs))

    // lg (report.py:50-62): nine lags, one WindowExec. The ordering
    // must be a TOTAL order for retried tasks to reproduce identical
    // rows: (transaction_date, transaction_id) uniquely orders the
    // FACTS, but the unbounded history joins fan each fact out once
    // per dimension version — so the version-open timestamps of the
    // three history legs extend the key (two copies of a transaction
    // differ in at least one joined version). The reference orders by
    // trans_date alone and is genuinely nondeterministic here; pinning
    // the copy order changes no rule multiset, only which copy lags
    // which.
    val w = Window.partitionBy(facts("card_num"))
      .orderBy(col("transaction_date"), col("transaction_id"),
        cards("effective_from"), accounts("effective_from"),
        clients("effective_from"))
    val lg = cl
      .withColumn("lag_city", lag(col("terminal_city"), 1).over(w))
      .withColumn("gap_us", epochUs(col("transaction_date")) -
        epochUs(lag(col("transaction_date"), 1).over(w)))
      .withColumn("res1", lag(col("oper_result"), 1).over(w))
      .withColumn("res2", lag(col("oper_result"), 2).over(w))
      .withColumn("res3", lag(col("oper_result"), 3).over(w))
      .withColumn("amt1", lag(col("amount"), 1).over(w))
      .withColumn("amt2", lag(col("amount"), 2).over(w))
      .withColumn("amt3", lag(col("amount"), 3).over(w))
      .withColumn("ts3", lag(col("transaction_date"), 3).over(w))

    // Rule 1 (report.py:70-78): expired passport OR blacklisted
    // passport active on/after its entry date.
    val rule1 =
      clients("passport_valid_to").cast(TimestampType) < col("transaction_date") ||
        (bl("passport_num").isNotNull &&
          col("bl_entry_dt") <= col("transaction_date"))
    // Rule 2 (report.py:80-88): activity on/after account expiry.
    val rule2 = col("transaction_date") >= accounts("valid_to").cast(TimestampType)
    // Rule 3 (report.py:90-99): city hop within one hour.
    val rule3 = col("terminal_city") =!= col("lag_city") &&
      col("gap_us") <= 3600L * 1000000L
    // Rule 4 (report.py:101-113): three REJECTs at strictly decreasing
    // amounts then a SUCCESS, all within 20 minutes, payment-ish ops.
    val rule4 = col("oper_result") === "SUCCESS" &&
      col("res1") === "REJECT" && col("res2") === "REJECT" && col("res3") === "REJECT" &&
      col("amount") < col("amt1") && col("amt1") < col("amt2") && col("amt2") < col("amt3") &&
      withinSeconds(col("transaction_date"), col("ts3"), 20 * 60) &&
      col("oper_type").isin("PAYMENT", "WITHDRAW")

    // Same multiset as the reference's four UNION ALL branches, in ONE
    // pass: per row, the array of fired rule ids explodes into 0-4
    // output rows. Four filtered branches would plan the star + window
    // subtree once per window-referencing branch; this keeps exactly
    // one WindowExec (PlanSpec-asserted).
    lg.withColumn("event_type", explode(filter(array(
        when(rule1, lit(1)), when(rule2, lit(2)),
        when(rule3, lit(3)), when(rule4, lit(4))), v => v.isNotNull)))
      .select(
        col("transaction_date").as("event_dt"),
        clients("passport_num").as("passport"),
        col("fio"),
        clients("phone").as("phone"),
        col("event_type"),
        lit(reportDt).as("report_dt"))
  }

  /** Full run (`main.py:47-50`): the load stages — file facts, file
    * dimensions and, when a source DB is configured, the three JDBC
    * dimensions — run concurrently, one thread each on the caller's
    * session; the report then runs over everything once every load
    * stage has succeeded. Each stage has one code path: facts by
    * anti-join append, every dimension by a snapshot SCD2 merge
    * published with `TableStore.swapSnapshot`.
    *
    * The load stages write disjoint tables (each its own staging table
    * and its own fact or dimension); the one table they share, the
    * `meta_date` watermarks, is serialised by [[Incremental]]. A failed
    * stage does not stop its siblings, which commit their work (the
    * reference's cron chain lets the next stage run after a failure);
    * each stage stays idempotent under its own watermark, so a rerun
    * after the fault is fixed converges. The report is not appended
    * after a failure: the first failure in stage order is rethrown
    * once every stage has finished, the others attached as
    * suppressed. */
  def run(spark: SparkSession, store: TableStore, srcDir: String,
          reportDt: Timestamp, archive: Boolean = false,
          dimDb: Option[Sources.JdbcSpec] = None,
          dimRunTs: Option[Timestamp] = None): Unit = {
    val fileStages: Seq[(String, () => Unit)] = Seq(
      "transactions" -> (() => runTransactions(spark, store, srcDir, archive)),
      "blacklist" -> (() => runBlacklist(spark, store, srcDir, archive)),
      "terminals" -> (() => runTerminals(spark, store, srcDir, archive)))
    val dimStages = dimDb.toSeq.flatMap { db =>
      val ts = dimRunTs.getOrElse(reportDt)
      Seq(cardsDim(db), accountsDim(db), clientsDim(db))
        .map(d => d.wmKey -> (() => runJdbcDim(spark, store, d, ts)))
    }
    concurrently(fileStages ++ dimStages).foreach(e => throw e)
    runReport(spark, store, reportDt)
  }

  /** Run each stage on a thread of its own and wait for all of them;
    * the first failure in stage order, with the later ones suppressed
    * on it. Threads are created here, not taken from a pool, so that
    * they inherit the caller's active session and Spark local
    * properties (job labels, scheduler pool). */
  private def concurrently(stages: Seq[(String, () => Unit)]): Option[Throwable] = {
    val failures = new Array[Throwable](stages.size)
    val threads = stages.zipWithIndex.map { case ((name, stage), i) =>
      val t = new Thread(() =>
        try stage() catch { case e: Throwable => failures(i) = e },
        s"pipeline-$name")
      t.start()
      t
    }
    threads.foreach(_.join()) // join orders each thread's write before the read
    failures.filter(_ != null).toSeq match {
      case first +: rest => rest.foreach(first.addSuppressed); Some(first)
      case _ => None
    }
  }
}
