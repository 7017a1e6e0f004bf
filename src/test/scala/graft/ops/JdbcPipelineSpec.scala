package graft.ops

import java.nio.file.Files
import java.sql.{DriverManager, Timestamp}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.io.{Sources, TableStore}

/** The LIVE end of the JDBC-incremental SCD2 flow (reference
  * `cards.py:35-202`): an actual embedded database (Derby, in-memory,
  * same JVM — the JDBC driver ships with Spark's jars), actually read
  * through `spark.read.format("jdbc").load()`. Everything the unit
  * specs pinned by construction (option map, pushdown SQL) runs for
  * real here: extract → staging → full-key delete snapshot → per-row
  * version clocks → watermark advance across two incremental runs. */
class JdbcPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val url = "jdbc:derby:memory:graftcards;create=true"
  private def spec = Sources.JdbcSpec(url = url, table = "cards",
    user = "", password = "", driver = "org.apache.derby.jdbc.EmbeddedDriver")

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def withDb[A](f: java.sql.Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  private def insert(conn: java.sql.Connection, card: String, acct: String,
                     createDt: Timestamp, updateDt: Timestamp): Unit = {
    val ps = conn.prepareStatement(
      "INSERT INTO cards(card_num, account, create_dt, update_dt) VALUES (?,?,?,?)")
    ps.setString(1, card); ps.setString(2, acct)
    ps.setTimestamp(3, createDt); ps.setTimestamp(4, updateDt)
    ps.executeUpdate(); ps.close()
  }

  private def dimRows(store: TableStore) =
    store.read("dim_cards_hist")
      .select("card_num", "account_num", "effective_from", "effective_to", "deleted_flg")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getString(4)))
      .toSet

  test("two live incremental extracts drive the SCD2 dimension end-to-end") {
    val store = new TableStore(spark,
      Files.createTempDirectory("graft_jdbc").toString)
    withDb { conn =>
      val st = conn.createStatement()
      st.execute("""CREATE TABLE cards(
        card_num VARCHAR(20) PRIMARY KEY, account VARCHAR(20),
        create_dt TIMESTAMP, update_dt TIMESTAMP)""")
      st.close()
      insert(conn, "A", "acc_a", ts("2024-01-01 10:00:00"), null)
      insert(conn, "B", "acc_b", ts("2024-01-01 10:00:00"), null)
      insert(conn, "C", "acc_c", ts("2024-01-01 10:00:00"), null)
    }

    // ── Run 1: first extract sees everything past the 1900 default ──
    Pipeline.runCards(spark, store, spec, runTs = ts("2024-01-02 00:00:00"))
    val inf = ts("9999-12-31 00:00:00")
    assert(dimRows(store) === Set(
      ("A", "acc_a", ts("2024-01-01 10:00:00"), inf, "N"),
      ("B", "acc_b", ts("2024-01-01 10:00:00"), inf, "N"),
      ("C", "acc_c", ts("2024-01-01 10:00:00"), inf, "N")))
    assert(Incremental.readWatermark(store, "stg", "cards") === ts("2024-01-01 10:00:00"))

    // ── Day 2 in the source: one change, one insert, one delete ──
    withDb { conn =>
      val st = conn.createStatement()
      st.execute("UPDATE cards SET account = 'acc_b2', " +
        "update_dt = TIMESTAMP('2024-01-05 09:00:00') WHERE card_num = 'B'")
      st.execute("DELETE FROM cards WHERE card_num = 'C'")
      st.close()
      insert(conn, "D", "acc_d", ts("2024-01-06 08:00:00"), null)
    }

    // ── Run 2: the watermark bounds the extract to the delta ──
    val runTs2 = ts("2024-01-10 00:00:00")
    Pipeline.runCards(spark, store, spec, runTs = runTs2)

    // Only B (updated) and D (created) beat the watermark.
    assert(store.read("stg_cards").select("card_num").collect()
      .map(_.getString(0)).sorted.toSeq === Seq("B", "D"))

    val closedB = ts("2024-01-05 08:59:59")  // update_dt − 1 s (cards.py:126)
    val closedC = ts("2024-01-09 23:59:59")  // runTs − 1 s (cards.py:165)
    assert(dimRows(store) === Set(
      ("A", "acc_a", ts("2024-01-01 10:00:00"), inf, "N"),      // untouched
      ("B", "acc_b", ts("2024-01-01 10:00:00"), closedB, "N"),  // closed
      ("B", "acc_b2", ts("2024-01-05 09:00:00"), inf, "N"),     // reopened at update_dt
      ("C", "acc_c", ts("2024-01-01 10:00:00"), closedC, "N"),  // closed at runTs − 1 s
      ("C", "acc_c", runTs2, inf, "Y"),                         // delete marker at runTs
      ("D", "acc_d", ts("2024-01-06 08:00:00"), inf, "N")))     // new key at create_dt
    assert(Incremental.readWatermark(store, "stg", "cards") === ts("2024-01-06 08:00:00"))

    // ── Run 3: no source changes → guard skips, nothing moves ──
    val before = dimRows(store)
    Pipeline.runCards(spark, store, spec, runTs = ts("2024-01-20 00:00:00"))
    assert(dimRows(store) === before)
    assert(Incremental.readWatermark(store, "stg", "cards") === ts("2024-01-06 08:00:00"))
  }

  test("the live JDBC path equals the same merges run on local frames") {
    import spark.implicits._
    // The same two days replayed through Scd2.merge directly (no JDBC,
    // no staging) must yield the identical dimension — the extract
    // layer adds nothing and loses nothing.
    val inf = ts("9999-12-31 00:00:00")
    val day1 = Seq(
      ("A", "acc_a", ts("2024-01-01 10:00:00"), null.asInstanceOf[Timestamp]),
      ("B", "acc_b", ts("2024-01-01 10:00:00"), null.asInstanceOf[Timestamp]),
      ("C", "acc_c", ts("2024-01-01 10:00:00"), null.asInstanceOf[Timestamp]))
      .toDF("card_num", "account_num", "create_dt", "update_dt")
    val day2 = Seq(
      ("B", "acc_b2", ts("2024-01-01 10:00:00"), ts("2024-01-05 09:00:00")),
      ("D", "acc_d", ts("2024-01-06 08:00:00"), null.asInstanceOf[Timestamp]))
      .toDF("card_num", "account_num", "create_dt", "update_dt")
    def mergeDay(dim: org.apache.spark.sql.DataFrame,
                 batch: org.apache.spark.sql.DataFrame,
                 liveKeys: Seq[String], runTs: Timestamp) =
      Scd2.merge(dim, batch, Seq("card_num"), Seq("account_num"),
        batchTs = coalesce(col("update_dt"), col("create_dt")),
        deleteKeys = Some(liveKeys.toDF("card_num")),
        deleteTs = Some(lit(runTs)),
        passthrough = Seq("create_dt", "update_dt"),
        newTs = Some(col("create_dt")))

    val dimSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("card_num", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("account_num", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("effective_from", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("effective_to", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("deleted_flg", org.apache.spark.sql.types.StringType)))
    val dim0 = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dimSchema)

    val afterDay1 = mergeDay(dim0, day1, Seq("A", "B", "C"),
      ts("2024-01-02 00:00:00"))
    val afterDay2 = mergeDay(afterDay1, day2, Seq("A", "B", "D"),
      ts("2024-01-10 00:00:00"))

    val got = afterDay2.collect()
      .map(r => (r.getString(0), r.getString(1), r.getTimestamp(2),
        r.getTimestamp(3), r.getString(4))).toSet
    assert(got === Set(
      ("A", "acc_a", ts("2024-01-01 10:00:00"), inf, "N"),
      ("B", "acc_b", ts("2024-01-01 10:00:00"), ts("2024-01-05 08:59:59"), "N"),
      ("B", "acc_b2", ts("2024-01-05 09:00:00"), inf, "N"),
      ("C", "acc_c", ts("2024-01-01 10:00:00"), ts("2024-01-09 23:59:59"), "N"),
      ("C", "acc_c", ts("2024-01-10 00:00:00"), inf, "Y"),
      ("D", "acc_d", ts("2024-01-06 08:00:00"), inf, "N")))
  }
}
