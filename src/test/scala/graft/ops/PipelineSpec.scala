package graft.ops

import java.nio.file.{Files, Path}
import java.sql.{DriverManager, Timestamp}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.io.{Sources, TableStore, XlsxFixture}

/** End-to-end pipeline test: two consecutive runs must leave the
  * warehouse state identical (watermark gate + anti-join idempotence)
  * while the report — faithfully non-idempotent, like the reference
  * (`report.py:63-69`) — appends per run; a day-2 delivery exercises
  * late-duplicate suppression and the SCD2 close/open/delete lifecycle
  * through the full stage chain, INCLUDING the three JDBC dimensions
  * (embedded Derby) and all four fraud rules with the reference's
  * unbounded history fan-out (q17 semantics, now E2E). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val reportDt = Timestamp.valueOf("2024-02-01 00:00:00")
  private val INF = Timestamp.valueOf("9999-12-31 00:00:00")

  private def write(dir: Path, name: String, lines: String*): Unit =
    Files.writeString(dir.resolve(name), lines.mkString("\n") + "\n"): Unit

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def day1(src: Path): Unit = {
    write(src, "transactions_01012024.txt",
      "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal",
      "1;2024-01-01 10:00:00;1.234,56;C1;PAYMENT;SUCCESS;T1",
      "2;2024-01-01 10:30:00;0,99;C1;PAYMENT;SUCCESS;T2", // C1 hops T1→T2 in 30 min
      "3;2024-01-01 11:00:00;5,00;C3;PAYMENT;SUCCESS;T1",
      // C4: three REJECTs at strictly decreasing amounts then a
      // SUCCESS, all inside 20 minutes → rule 4 on txn 9.
      "6;2024-01-01 12:00:00;40,00;C4;PAYMENT;REJECT;T1",
      "7;2024-01-01 12:05:00;30,00;C4;PAYMENT;REJECT;T1",
      "8;2024-01-01 12:10:00;20,00;C4;PAYMENT;REJECT;T1",
      "9;2024-01-01 12:15:00;10,00;C4;PAYMENT;SUCCESS;T1")
    write(src, "terminals_01012024.txt",
      "terminal_id;terminal_type;terminal_city",
      "T1;ATM;Moscow",
      "T2;POS;Perm")
    // Excel blacklist, a real workbook (date as text). P3 is CL3's passport.
    XlsxFixture.writeSheet(src.resolve("passport_blacklist_01012024.xlsx"), "blacklist",
      Seq(Seq("date", "passport"), Seq("2024-01-01", "P3")))
  }

  private def day2(src: Path): Unit = {
    write(src, "transactions_02012024.txt",
      "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal",
      "1;2024-01-01 10:00:00;1.234,56;C1;PAYMENT;SUCCESS;T1", // replayed duplicate
      "4;2024-01-02 10:00:00;7,00;C2;PAYMENT;SUCCESS;T1",
      "5;2024-01-02 10:30:00;8,00;C2;PAYMENT;SUCCESS;T3") // C2 hops T1→T3
    write(src, "terminals_02012024.txt",
      "terminal_id;terminal_type;terminal_city",
      "T1;ATM;Kazan", // city changed
      "T3;POS;Omsk") // new; T2 vanished → delete-detected
  }

  /** Embedded source DB for the three JDBC dimensions; each test that
    * drives them gets a database of its own. */
  private def dbUrl(db: String) = s"jdbc:derby:memory:$db;create=true"
  private def dimDb(db: String) = Sources.JdbcSpec(url = dbUrl(db), table = "",
    user = "", password = "", driver = "org.apache.derby.jdbc.EmbeddedDriver")
  private val mainDb = "graftpipedims"

  private def sql(db: String, statements: String*): Unit = {
    val conn = DriverManager.getConnection(dbUrl(db))
    try {
      val st = conn.createStatement()
      statements.foreach(st.execute)
      st.close()
    } finally conn.close()
  }

  // C1's client has an EXPIRED passport → rule 1a on every C1 txn.
  // CL3's passport P3 is blacklisted → rule 1b. ACC2 expires
  // 2024-01-02 → rule 2 on C2's day-2 txns.
  private val dimTables: Seq[(String, Seq[String])] = Seq(
    "cards" -> Seq(
      """CREATE TABLE cards(card_num VARCHAR(20), account VARCHAR(20),
         create_dt TIMESTAMP, update_dt TIMESTAMP)""",
      "INSERT INTO cards VALUES ('C1','ACC1',TIMESTAMP('2023-12-01 00:00:00'),NULL)",
      "INSERT INTO cards VALUES ('C2','ACC2',TIMESTAMP('2023-12-01 00:00:00'),NULL)",
      "INSERT INTO cards VALUES ('C3','ACC3',TIMESTAMP('2023-12-01 00:00:00'),NULL)",
      "INSERT INTO cards VALUES ('C4','ACC4',TIMESTAMP('2023-12-01 00:00:00'),NULL)"),
    "accounts" -> Seq(
      """CREATE TABLE accounts(account VARCHAR(20), valid_to DATE,
         client VARCHAR(20), create_dt TIMESTAMP, update_dt TIMESTAMP)""",
      "INSERT INTO accounts VALUES ('ACC1',DATE('2024-12-31'),'CL1',TIMESTAMP('2023-12-01 00:00:00'),NULL)",
      "INSERT INTO accounts VALUES ('ACC2',DATE('2024-01-02'),'CL2',TIMESTAMP('2023-12-01 00:00:00'),NULL)",
      "INSERT INTO accounts VALUES ('ACC3',DATE('2024-12-31'),'CL3',TIMESTAMP('2023-12-01 00:00:00'),NULL)",
      "INSERT INTO accounts VALUES ('ACC4',DATE('2024-12-31'),'CL4',TIMESTAMP('2023-12-01 00:00:00'),NULL)"),
    "clients" -> Seq(
      """CREATE TABLE clients(client_id VARCHAR(20), last_name VARCHAR(40),
         first_name VARCHAR(40), patronymic VARCHAR(40), date_of_birth DATE,
         passport_num VARCHAR(20), passport_valid_to DATE, phone VARCHAR(20),
         create_dt TIMESTAMP, update_dt TIMESTAMP)""",
      "INSERT INTO clients VALUES ('CL1','Ivanov','Ivan','Ivanovich',DATE('1980-01-01'),'P1',DATE('2023-12-31'),'111',TIMESTAMP('2023-12-01 00:00:00'),NULL)",
      "INSERT INTO clients VALUES ('CL2','Petrov','Petr','Petrovich',DATE('1981-01-01'),'P2',DATE('2025-12-31'),'222',TIMESTAMP('2023-12-01 00:00:00'),NULL)",
      "INSERT INTO clients VALUES ('CL3','Sidorov','Sidr','Sidorovich',DATE('1982-01-01'),'P3',DATE('2025-12-31'),'333',TIMESTAMP('2023-12-01 00:00:00'),NULL)",
      "INSERT INTO clients VALUES ('CL4','Smirnov','Igor','Igorevich',DATE('1983-01-01'),'P4',DATE('2025-12-31'),'444',TIMESTAMP('2023-12-01 00:00:00'),NULL)"))

  private def seedDims(db: String = mainDb,
                       tables: Seq[String] = dimTables.map(_._1)): Unit =
    dimTables.filter(t => tables.contains(t._1)).foreach(t => sql(db, t._2: _*))

  private def dropDims(db: String = mainDb): Unit =
    dimTables.foreach { t =>
      try sql(db, s"DROP TABLE ${t._1}")
      catch { case _: java.sql.SQLException => } // never created by this test
    }

  /** Day 2 in the source DB: C1's card is re-accounted to ACC1B. */
  private val day2Db = Seq(
    "UPDATE cards SET account = 'ACC1B', update_dt = TIMESTAMP('2024-01-02 09:00:00') WHERE card_num = 'C1'",
    "INSERT INTO accounts VALUES ('ACC1B',DATE('2024-12-31'),'CL1',TIMESTAMP('2024-01-02 09:00:00'),NULL)")

  /** One nightly run; the JDBC dimensions mark deletes at `reportDt`. */
  private def runAll(store: TableStore, src: Path, db: String = mainDb): Unit =
    Pipeline.run(spark, store, src.toString, reportDt, dimDb = Some(dimDb(db)))

  private def count(store: TableStore, t: String): Long =
    if (store.exists(t)) store.read(t).count() else 0L

  private def byRule(store: TableStore): Map[Int, Long] =
    store.read("rep_fraud").groupBy("event_type").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  test("full chain: 4 fraud rules, JDBC dims, idempotent facts, fan-out on history") {
    val src = Files.createTempDirectory("graft_pipe_src")
    val store = new TableStore(spark, Files.createTempDirectory("graft_pipe_wh").toString)
    day1(src)
    seedDims()
    try {
      runAll(store, src)
      assert(count(store, "fact_transactions") === 7)
      assert(count(store, "fact_blacklist") === 1)
      assert(count(store, "dim_terminals_hist") === 2)
      assert(count(store, "dim_cards_hist") === 4)
      assert(count(store, "dim_accounts_hist") === 4)
      assert(count(store, "dim_clients_hist") === 4)
      // Day-1 report: rule 1 = C1's two txns (expired P1) + C3's txn
      // (blacklisted P3); rule 3 = C1's hop; rule 4 = C4's txn 9.
      assert(byRule(store) === Map(1 -> 3L, 3 -> 1L, 4 -> 1L))
      val factsAfter1 = store.read("fact_transactions").collect().toSet
      val dimAfter1 = store.read("dim_terminals_hist").collect().toSet
      val cardsAfter1 = store.read("dim_cards_hist").collect().toSet

      // Run 2, same inputs: watermark gates skip every file AND the
      // JDBC extracts (no source changes); facts and dims unchanged;
      // the report appends the same rows again (reference parity).
      runAll(store, src)
      assert(store.read("fact_transactions").collect().toSet === factsAfter1)
      assert(store.read("dim_terminals_hist").collect().toSet === dimAfter1)
      assert(store.read("dim_cards_hist").collect().toSet === cardsAfter1)
      assert(byRule(store) === Map(1 -> 6L, 3 -> 2L, 4 -> 2L))

      // Day 2: duplicate fact suppressed, two C2 facts land, terminal
      // SCD2 closes/opens/deletes, and C1's card is re-accounted in
      // the source → dim_cards_hist grows a second version. ACC1B also
      // exists → BOTH versions enrich to client CL1, so C1's txns fan
      // out (the reference joins every history version — q17, E2E).
      day2(src)
      sql(mainDb, day2Db: _*)
      runAll(store, src)
      assert(count(store, "fact_transactions") === 9)

      val dim = store.read("dim_terminals_hist").collect().map(r =>
        (r.getString(0), r.getString(2), r.getTimestamp(3), r.getTimestamp(4),
          r.getString(5))).toSet
      val d1 = ts("2024-01-01 00:00:00")
      val d2 = ts("2024-01-02 00:00:00")
      val d1Close = ts("2024-01-01 23:59:59")
      assert(dim === Set(
        ("T1", "Moscow", d1, d1Close, "N"), // closed 1s before replacement
        ("T1", "Kazan", d2, INF, "N"),
        ("T2", "Perm", d1, d1Close, "N"), // closed by delete detection
        ("T2", "Perm", d2, INF, "Y"), // marker keeps last attributes
        ("T3", "Omsk", d2, INF, "N")))

      // C1 now has a closed ACC1 version and an open ACC1B version.
      val c1 = store.read("dim_cards_hist")
        .filter(org.apache.spark.sql.functions.col("card_num") === "C1")
        .collect().map(r => (r.getString(1), r.getTimestamp(3))).toSet
      assert(c1 === Set(("ACC1", ts("2024-01-02 08:59:59")), ("ACC1B", INF)))

      // Run-3 report delta: rule 1 = C1's two txns × TWO card versions
      // (fan-out) + C3 = 5; rule 2 = C2's two txns on/after ACC2's
      // valid_to = 2; rule 3 = C1's hop + C2's hop = 2; rule 4 = 1.
      assert(byRule(store) === Map(
        1 -> (6L + 5L), 2 -> 2L, 3 -> (2L + 2L), 4 -> (2L + 1L)))
      // The fan-out multiplicity, directly: txn 1 (C1, day 1) appears
      // TWICE in this run's rule-1 rows — once per card version.
      import org.apache.spark.sql.functions.col
      assert(store.read("rep_fraud")
        .filter(col("event_type") === 1 && col("passport") === "P1" &&
          col("event_dt") === ts("2024-01-01 10:00:00")).count() === 4)
      // runs 1+2 contributed one each, run 3 two

      // Report rows carry the reference's enrichment shape.
      val r4row = store.read("rep_fraud")
        .filter(col("event_type") === 4).collect().head
      assert(r4row.getString(1) === "P4" && r4row.getString(2) === "Smirnov Igor Igorevich"
        && r4row.getString(3) === "444")

      // European decimal promotion survived staging → warehouse.
      val amt = store.read("fact_transactions")
        .filter(col("transaction_id") === "1")
        .collect().head.getDecimal(2)
      assert(amt.toPlainString === "1234.56")
    } finally dropDims()
  }

  test("an impossible file-name date fails the stage naming the file; later files still load") {
    val src = Files.createTempDirectory("graft_pipe_baddate")
    val store = new TableStore(spark, Files.createTempDirectory("graft_pipe_wh_bd").toString)
    // 31 February sorts between 29 Feb and 1 Mar; read leniently it
    // would become 2 March and gate out the real 1 and 2 March files.
    write(src, "terminals_31022024.txt",
      "terminal_id;terminal_type;terminal_city", "T1;ATM;Moscow")
    write(src, "terminals_01032024.txt",
      "terminal_id;terminal_type;terminal_city", "T1;ATM;Kazan")
    val ex = intercept[IllegalArgumentException](
      Pipeline.runTerminals(spark, store, src.toString))
    assert(ex.getMessage.contains("terminals_31022024.txt"))
    assert(!store.exists("stg_terminals") && !store.exists("dim_terminals_hist"))
    assert(Incremental.readWatermark(store, "stg", "terminals") === Incremental.DefaultWatermark)

    Files.delete(src.resolve("terminals_31022024.txt"))
    Pipeline.runTerminals(spark, store, src.toString)
    val mar1 = ts("2024-03-01 00:00:00")
    assert(store.read("dim_terminals_hist").collect()
      .map(r => (r.getString(0), r.getString(2), r.getTimestamp(3), r.getTimestamp(4))).toSet ===
      Set(("T1", "Kazan", mar1, INF)))
    assert(Incremental.readWatermark(store, "stg", "terminals") === mar1)
  }

  test("a malformed transaction date fails the stage naming the file; others commit") {
    val src = Files.createTempDirectory("graft_pipe_garbage")
    val store = new TableStore(spark, Files.createTempDirectory("graft_pipe_wh_garbage").toString)
    val txHeader = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"
    day1(src)
    Pipeline.run(spark, store, src.toString, reportDt)
    val facts = store.read("fact_transactions").collect().toSet
    val d1 = ts("2024-01-01 00:00:00")
    assert(Incremental.readWatermark(store, "stg", "transactions") === d1)
    // Day 2: one non-blank date that is not a timestamp.
    write(src, "transactions_02012024.txt", txHeader,
      "4;2024-01-02 10:00:00;7,00;C1;PAYMENT;SUCCESS;T1",
      "5;garbage;8,00;C1;PAYMENT;SUCCESS;T1")
    write(src, "terminals_02012024.txt",
      "terminal_id;terminal_type;terminal_city", "T1;ATM;Kazan")
    val err = intercept[IllegalStateException](
      Pipeline.run(spark, store, src.toString, reportDt))
    assert(err.getMessage.contains("transactions_02012024.txt"), err.getMessage)
    assert(err.getMessage.contains("transactions stage"), err.getMessage)
    assert(store.read("fact_transactions").collect().toSet === facts)
    assert(Incremental.readWatermark(store, "stg", "transactions") === d1)
    // The sibling stage committed its day-2 file.
    assert(Incremental.readWatermark(store, "stg", "terminals") === ts("2024-01-02 00:00:00"))

    // Fixed by hand, the file loads on the next run.
    write(src, "transactions_02012024.txt", txHeader,
      "4;2024-01-02 10:00:00;7,00;C1;PAYMENT;SUCCESS;T1",
      "5;2024-01-02 11:00:00;8,00;C1;PAYMENT;SUCCESS;T1")
    Pipeline.run(spark, store, src.toString, reportDt)
    assert(store.read("fact_transactions").count() === facts.size + 2)
    assert(Incremental.readWatermark(store, "stg", "transactions") === ts("2024-01-02 00:00:00"))
  }

  test("a transactions header with columns out of order fails the stage naming the file; others commit") {
    val src = Files.createTempDirectory("graft_pipe_header")
    val store = new TableStore(spark, Files.createTempDirectory("graft_pipe_wh_header").toString)
    day1(src)
    Pipeline.run(spark, store, src.toString, reportDt)
    val facts = store.read("fact_transactions").collect().toSet
    val d1 = ts("2024-01-01 00:00:00")
    // Day 2: card_num and terminal swapped in the header and the rows.
    // Read by position the file would load C1 as a terminal and T1 as
    // a card, and feed the fraud rules wrong keys.
    write(src, "transactions_02012024.txt",
      "transaction_id;transaction_date;amount;terminal;oper_type;oper_result;card_num",
      "4;2024-01-02 10:00:00;7,00;T1;PAYMENT;SUCCESS;C1")
    write(src, "terminals_02012024.txt",
      "terminal_id;terminal_type;terminal_city", "T1;ATM;Kazan")
    val err = intercept[IllegalStateException](
      Pipeline.run(spark, store, src.toString, reportDt))
    assert(err.getMessage.contains("transactions_02012024.txt"), err.getMessage)
    assert(err.getMessage.contains("transactions stage"), err.getMessage)
    assert(store.read("fact_transactions").collect().toSet === facts)
    assert(Incremental.readWatermark(store, "stg", "transactions") === d1)
    // The sibling stage committed its day-2 file.
    assert(Incremental.readWatermark(store, "stg", "terminals") === ts("2024-01-02 00:00:00"))
  }

  test("a header-only file leaves its table and watermark; all-null dates advance to the file date") {
    val src = Files.createTempDirectory("graft_pipe_empty")
    val store = new TableStore(spark, Files.createTempDirectory("graft_pipe_wh_empty").toString)
    val txHeader = "transaction_id;transaction_date;amount;card_num;oper_type;oper_result;terminal"
    val termHeader = "terminal_id;terminal_type;terminal_city"
    def load(): Unit = {
      Pipeline.runTransactions(spark, store, src.toString)
      Pipeline.runTerminals(spark, store, src.toString)
    }
    def watermarks = Seq("transactions", "terminals")
      .map(Incremental.readWatermark(store, "stg", _))
    def rows(t: String) = store.read(t).collect().toSet
    write(src, "transactions_01012024.txt", txHeader,
      "1;2024-01-01 10:00:00;1,00;C1;PAYMENT;SUCCESS;T1")
    write(src, "terminals_01012024.txt", termHeader, "T1;ATM;Moscow")
    load()
    val d1 = ts("2024-01-01 00:00:00")
    assert(watermarks === Seq(d1, d1))
    val (facts1, dim1) = (rows("fact_transactions"), rows("dim_terminals_hist"))

    // Header only: nothing staged, so no row is promoted, the snapshot
    // deletes no terminal, and neither watermark moves.
    write(src, "transactions_02012024.txt", txHeader)
    write(src, "terminals_02012024.txt", termHeader)
    load()
    assert(rows("fact_transactions") === facts1)
    assert(rows("dim_terminals_hist") === dim1)
    assert(watermarks === Seq(d1, d1))

    // Later files still load. Every transaction_date is blank, so the
    // max is null and the watermark falls back to the file date.
    write(src, "transactions_03012024.txt", txHeader,
      "2;;2,00;C2;PAYMENT;SUCCESS;T1", "3;;3,00;C3;PAYMENT;SUCCESS;T1")
    write(src, "terminals_03012024.txt", termHeader, "T1;ATM;Kazan")
    load()
    val d3 = ts("2024-01-03 00:00:00")
    assert(watermarks === Seq(d3, d3))
    assert(store.read("fact_transactions").collect()
      .map(r => (r.getString(0), Option(r.getTimestamp(1)))).toSet ===
      Set(("1", Some(ts("2024-01-01 10:00:00"))), ("2", None), ("3", None)))
    assert(store.read("dim_terminals_hist").collect()
      .map(r => (r.getString(2), r.getTimestamp(3), r.getTimestamp(4))).toSet ===
      Set(("Moscow", d1, ts("2024-01-02 23:59:59")), ("Kazan", d3, INF)))
  }

  test("PipelineMain rejects an unknown flag with its usage line") {
    Seq(Array("src", "wh", "--bucket-dims=4"), Array("src", "wh", "--archve"),
        Array("src", "wh", "2024-01-01", "extra"), Array("src"),
        Array("src", "wh", "2024-02-30"), Array("src", "wh", "2024-13-01")).foreach { args =>
      val ex = intercept[IllegalArgumentException](graft.PipelineMain.parseArgs(args))
      assert(ex.getMessage.contains("usage: PipelineMain"), args.mkString(" "))
      // A bad report date is named in the error.
      if (args.length == 3 && !args(2).startsWith("--"))
        assert(ex.getMessage.contains(s"'${args(2)}'"), args(2))
    }
    val (srcDir, whDir, reportDt, archive) =
      graft.PipelineMain.parseArgs(Array("src", "wh", "2024-01-01", "--archive"))
    assert((srcDir, whDir, reportDt, archive) === ("src", "wh", ts("2024-01-01 00:00:00"), true))
  }

  test("archive=true moves processed files so reruns see an empty source") {
    val src = Files.createTempDirectory("graft_pipe_arch")
    val store = new TableStore(spark, Files.createTempDirectory("graft_pipe_wh2").toString)
    day1(src)
    Pipeline.run(spark, store, src.toString, reportDt, archive = true)
    assert(Files.exists(src.resolve("archive/transactions_01012024.txt.backup")))
    assert(Files.exists(src.resolve("archive/terminals_01012024.txt.backup")))
    assert(Files.exists(src.resolve("archive/passport_blacklist_01012024.xlsx.backup")))
    assert(!Files.exists(src.resolve("transactions_01012024.txt")))
    assert(count(store, "fact_transactions") === 7)
  }

  /** Every table of a warehouse, each as a multiset of rows. */
  private def tables(store: TableStore): Map[String, Map[org.apache.spark.sql.Row, Int]] =
    new java.io.File(store.path("")).listFiles().toSeq
      .filter(f => f.isDirectory && !f.getName.startsWith(".")).map { f =>
        f.getName -> store.read(f.getName).collect().toSeq
          .groupBy(identity).map { case (r, rs) => r -> rs.size }
      }.toMap

  /** The two-day fixture in a fresh source directory, warehouse and
    * source DB; `day` runs one day (warehouse, files, DB). */
  private def replay(tag: String)
                    (day: (TableStore, Path, Sources.JdbcSpec) => Unit): TableStore = {
    val db = s"graftpipe_$tag"
    val src = Files.createTempDirectory(s"graft_pipe_src_$tag")
    val store = new TableStore(spark, Files.createTempDirectory(s"graft_pipe_wh_$tag").toString)
    seedDims(db)
    try {
      day1(src)
      day(store, src, dimDb(db))
      day2(src)
      sql(db, day2Db: _*)
      day(store, src, dimDb(db))
    } finally dropDims(db)
    store
  }

  test("concurrent load stages leave every table as the stages run one by one") {
    val sequential = tables(replay("seq") { (store, src, db) =>
      Pipeline.runTransactions(spark, store, src.toString)
      Pipeline.runBlacklist(spark, store, src.toString)
      Pipeline.runTerminals(spark, store, src.toString)
      Seq(Pipeline.cardsDim(db), Pipeline.accountsDim(db), Pipeline.clientsDim(db))
        .foreach(Pipeline.runJdbcDim(spark, store, _, reportDt))
      Pipeline.runReport(spark, store, reportDt)
    })
    assert(sequential.keySet.contains("meta_date") && sequential.keySet.contains("rep_fraud"))
    assert(sequential("meta_date").values.sum === 6)
    // Fresh warehouses, so a lost watermark update or a torn read of
    // the shared meta table would show up as a differing table.
    (1 to 5).foreach { i =>
      val concurrent = tables(replay(s"conc$i") { (store, src, db) =>
        Pipeline.run(spark, store, src.toString, reportDt, dimDb = Some(db))
      })
      assert(concurrent.keySet === sequential.keySet, s"run $i")
      sequential.keys.foreach(t => assert(concurrent(t) === sequential(t), s"run $i, table $t"))
    }
  }

  test("a fixture day's stages run no more Spark jobs than pinned") {
    val db = "graftpipe_jobs"
    val src = Files.createTempDirectory("graft_pipe_src_jobs")
    val store = new TableStore(spark, Files.createTempDirectory("graft_pipe_wh_jobs").toString)
    seedDims(db)
    try {
      day1(src)
      runAll(store, src, db)
      // Day 2 changes every source, so each stage stages, merges or
      // appends, and commits its watermark.
      day2(src)
      XlsxFixture.writeSheet(src.resolve("passport_blacklist_02012024.xlsx"), "blacklist",
        Seq(Seq("date", "passport"), Seq("2024-01-02", "P2")))
      sql(db, day2Db :+ "UPDATE clients SET phone = '999', " +
        "update_dt = TIMESTAMP('2024-01-02 09:00:00') WHERE client_id = 'CL4'": _*)
      val dimTs = ts("2024-01-02 12:00:00")
      val stages: Seq[(String, () => Unit)] = Seq(
        "transactions" -> (() => Pipeline.runTransactions(spark, store, src.toString)),
        "blacklist" -> (() => Pipeline.runBlacklist(spark, store, src.toString)),
        "terminals" -> (() => Pipeline.runTerminals(spark, store, src.toString))) ++
        Seq(Pipeline.cardsDim(dimDb(db)), Pipeline.accountsDim(dimDb(db)),
            Pipeline.clientsDim(dimDb(db)))
          .map(d => d.wmKey -> (() => Pipeline.runJdbcDim(spark, store, d, dimTs))) :+
        ("report" -> (() => Pipeline.runReport(spark, store, reportDt)))
      val jobs = stages.map { case (name, stage) => name -> graft.JobCount(spark)(stage())._2 }
      info(jobs.map { case (n, j) => s"$n $j" }.mkString(", "))
      // Before table schemas came from footers and the guard and the
      // watermark were observed on the staging write, this day ran 12,
      // 10, 13, 17, 17, 17 and 13 jobs.
      val pinned = Map("transactions" -> 6, "blacklist" -> 6, "terminals" -> 9,
        "cards" -> 10, "accounts" -> 10, "clients" -> 10, "report" -> 7)
      jobs.foreach { case (name, j) => assert(j <= pinned(name), name) }
      Seq("transactions", "blacklist", "terminals", "cards", "accounts", "clients")
        .foreach(t => assert(Incremental.readWatermark(store, "stg", t).toString.startsWith("2024-01-02"), t))
    } finally dropDims(db)
  }

  test("a failed load stage: siblings commit, no report, a rerun converges") {
    val db = "graftpipe_fault"
    val src = Files.createTempDirectory("graft_pipe_src_fault")
    val faulted = new TableStore(spark, Files.createTempDirectory("graft_pipe_wh_fault").toString)
    val clean = new TableStore(spark, Files.createTempDirectory("graft_pipe_wh_clean").toString)
    day1(src)
    seedDims(db, tables = Seq("cards", "accounts")) // the clients extract fails
    try {
      val err = intercept[Throwable](runAll(faulted, src, db))
      val chain = Iterator.iterate(err)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(e => String.valueOf(e.getMessage).contains("CLIENTS")), err)
      assert(!faulted.exists("rep_fraud"))
      // The siblings committed their tables and watermarks.
      assert(count(faulted, "fact_transactions") === 7)
      assert(count(faulted, "fact_blacklist") === 1)
      assert(count(faulted, "dim_terminals_hist") === 2)
      assert(count(faulted, "dim_cards_hist") === 4)
      assert(count(faulted, "dim_accounts_hist") === 4)
      assert(!faulted.exists("dim_clients_hist"))
      val d1 = ts("2024-01-01 00:00:00")
      val dims = ts("2023-12-01 00:00:00")
      Seq("transactions" -> d1, "blacklist" -> d1, "terminals" -> d1,
          "cards" -> dims, "accounts" -> dims, "clients" -> Incremental.DefaultWatermark)
        .foreach { case (t, wm) => assert(Incremental.readWatermark(faulted, "stg", t) === wm, t) }

      // Fix the fault and rerun: the warehouse converges on a clean
      // run's. Staging is truncate-reload per run (the rerun reloads
      // the already-loaded dims' empty extracts), so it is left out.
      seedDims(db, tables = Seq("clients"))
      runAll(faulted, src, db)
      runAll(clean, src, db)
      def warehouse(store: TableStore) = tables(store).filter(!_._1.startsWith("stg_"))
      assert(warehouse(faulted) === warehouse(clean))
      assert(warehouse(clean).keySet.contains("rep_fraud"))
    } finally dropDims(db)
  }
}
