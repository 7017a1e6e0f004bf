package graft.io

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("fileNameDateIso: DDMMYYYY -> ISO (transaction.py:49-50)") {
    assert(Sources.fileNameDateIso("transactions_03032021.txt") === Some("2021-03-03"))
    assert(Sources.fileNameDateIso("terminals_31122020.xlsx") === Some("2020-12-31"))
    assert(Sources.fileNameDateIso("no_date_here.txt") === None)
    // Parsed strictly: an impossible date throws naming the file.
    assert(Sources.fileNameDateIso("terminals_29022024.txt") === Some("2024-02-29"))
    Seq("terminals_31022024.txt", "terminals_01132024.txt", "terminals_29022023.txt")
      .foreach { f =>
        val ex = intercept[IllegalArgumentException](Sources.fileNameDateIso(f))
        assert(ex.getMessage.contains(f))
      }
  }

  test("listFilesChronological sorts by embedded date, not name (transaction.py:26-28)") {
    val dir = Files.createTempDirectory("graft_files")
    // Lexicographic name order differs from chronological date order.
    Seq("tx_01022021.txt", "tx_15012021.txt", "tx_31122020.txt", "noise.csv")
      .foreach(f => Files.createFile(dir.resolve(f)))
    val got = Sources.listFilesChronological(dir.toString, "tx_\\d{8}\\.txt")
      .map(_.getFileName.toString)
    assert(got === Seq("tx_31122020.txt", "tx_15012021.txt", "tx_01022021.txt"))
  }

  test("listFilesChronological: same-date files order by name (deterministic)") {
    val dir = Files.createTempDirectory("graft_samedate")
    Seq("b_15012021.txt", "a_15012021.txt", "c_14012021.txt")
      .foreach(f => Files.createFile(dir.resolve(f)))
    val got = Sources.listFilesChronological(dir.toString, ".*_\\d{8}\\.txt")
      .map(_.getFileName.toString)
    assert(got === Seq("c_14012021.txt", "a_15012021.txt", "b_15012021.txt"))
  }

  test("listFilesChronological matches the whole file name, not a substring") {
    val dir = Files.createTempDirectory("graft_anchored")
    // A half-landed upload, a backup copy and a prefixed namesake all
    // CONTAIN a matching substring; only the exact name may be ingested.
    Seq("transactions_01032021.txt", "transactions_01032021.txt.tmp",
        "transactions_02032021.txt.bak", "x_transactions_03032021.txt")
      .foreach(f => Files.createFile(dir.resolve(f)))
    val got = Sources.listFilesChronological(dir.toString, "transactions_\\d{8}\\.txt")
      .map(_.getFileName.toString)
    assert(got === Seq("transactions_01032021.txt"))
  }

  test("listFilesChronological on a missing dir is empty, not an error") {
    assert(Sources.listFilesChronological("/nonexistent_dir_xyz", ".*") === Seq.empty)
  }

  test("csv reads semicolon-separated with explicit all-string schema (transaction.py:57)") {
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve("transactions_03032021.txt")
    Files.writeString(f,
      "transaction_id;transaction_date;amount\n1;2021-03-03 10:00:00;1.234,56\n")
    val df = Sources.csv(spark, f.toString,
      Sources.stringSchema("transaction_id", "transaction_date", "amount"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    val row = df.collect().head
    assert(row.getString(0) === "1" && row.getString(2) === "1.234,56")
  }

  test("archive moves a processed file to archive/<name>.backup (transaction.py:88)") {
    val dir = Files.createTempDirectory("graft_arch")
    val f = Files.createFile(dir.resolve("tx_01012021.txt"))
    val moved = Sources.archive(f)
    assert(!Files.exists(f))
    assert(moved === dir.resolve("archive/tx_01012021.txt.backup"))
    assert(Files.exists(moved))
  }

  test("jdbcOptions: dbtable + driver + fetchsize; partition options only when bounded") {
    val spec = Sources.JdbcSpec("jdbc:postgresql://host/db", "info.cards", "u", "p")
    val opts = Sources.jdbcOptions(spec)
    assert(opts("dbtable") === "info.cards" && opts("fetchsize") === "10000")
    assert(!opts.contains("partitionColumn"))
    val par = Sources.jdbcOptions(spec.copy(
      partitionColumn = Some("card_num"), lowerBound = Some("0"),
      upperBound = Some("1000000"), numPartitions = 16))
    assert(par("partitionColumn") === "card_num" && par("numPartitions") === "16")
  }

  /** A real workbook ([[XlsxFixture]]) with two sheets (addressing
    * must go through workbook.xml + rels, not zip order), shared
    * strings incl. a rich-text run, inline strings, a formula-string
    * cell, a numeric cell, and a missing cell. */
  private def writeXlsx(path: java.nio.file.Path): Unit =
    XlsxFixture.writeParts(path, Seq(
      "[Content_Types].xml" ->
        """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""",
      "xl/sharedStrings.xml" ->
        """<?xml version="1.0"?>
          |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="3" uniqueCount="3">
          |<si><t>terminal_id</t></si>
          |<si><t>terminal_city</t></si>
          |<si><r><t>Mos</t></r><r><t>cow</t></r></si>
          |</sst>""".stripMargin) ++
      XlsxFixture.workbookParts(Seq(
        "info" -> """<row r="1"><c r="A1" t="inlineStr"><is><t>WRONG SHEET</t></is></c></row>""",
        "terminals" ->
          """
            |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="inlineStr"><is><t>terminal_address</t></is></c></row>
            |<row r="2"><c r="A2" t="inlineStr"><is><t>T1</t></is></c><c r="B2" t="s"><v>2</v></c><c r="C2" t="str"><v>Addr 1</v></c></row>
            |<row r="3"><c r="A3" t="inlineStr"><is><t>T2</t></is></c><c r="C3"><v>42</v></c></row>
            |""".stripMargin)))

  test("excel reads a REAL .xlsx workbook through the built-in parser") {
    val dir = Files.createTempDirectory("graft_xlsx_real")
    val path = dir.resolve("terminals_01012021.xlsx")
    writeXlsx(path)
    val df = Sources.excel(spark, path.toString, "terminals",
      Sources.stringSchema("terminal_id", "terminal_city", "terminal_address"))
    assert(df.columns.toSeq === Seq("terminal_id", "terminal_city", "terminal_address"))
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // Sheet addressing via rels (not 'WRONG SHEET'), rich-text shared
    // string reassembled, header skipped, missing B3 → null, numeric
    // C3 read as its stored text.
    assert(got === Set(("T1", "Moscow", "Addr 1"), ("T2", null, "42")))
    // Unknown sheet names fail loudly, listing what exists.
    val ex = intercept[IllegalArgumentException] {
      Sources.excel(spark, path.toString, "nope", Sources.stringSchema("x"))
    }
    assert(ex.getMessage.contains("terminals"))
  }

  test("xlsx-lite fails loudly on date-formatted numeric cells (Excel serials)") {
    // styles.xml maps style index 1 → builtin date numFmtId 14; cell
    // A2 carries s="1" with the raw serial 44197 (= 2021-01-01).
    // Returning "44197" would silently diverge from the reference's
    // pandas read — the parser must reject instead (such workbooks
    // must carry their dates as text cells).
    val entries = XlsxFixture.workbookParts(Seq("s" ->
        """
          |<row r="1"><c r="A1" t="inlineStr"><is><t>d</t></is></c></row>
          |<row r="2"><c r="A2" s="1"><v>44197</v></c></row>
          |""".stripMargin)) :+
      "xl/styles.xml" ->
        """<?xml version="1.0"?>
          |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
          |<cellXfs count="2"><xf numFmtId="0"/><xf numFmtId="14" applyNumberFormat="1"/></cellXfs>
          |</styleSheet>""".stripMargin
    val dir = Files.createTempDirectory("graft_xlsx_date")
    val path = dir.resolve("dates_01012021.xlsx")
    XlsxFixture.writeParts(path, entries)
    val ex = intercept[IllegalArgumentException] {
      XlsxLite.read(path.toString, "s")
    }
    assert(ex.getMessage.contains("date-formatted"))
    // An UNSTYLED numeric cell still reads as its stored text — only
    // date styles reject.
    val plain = dir.resolve("plain_01012021.xlsx")
    XlsxFixture.writeParts(plain, entries.filterNot(_._1 == "xl/styles.xml")
      .map { case (name, content) => name -> content.replace(""" s="1"""", "") })
    assert(XlsxLite.read(plain.toString, "s")(1).toSeq === Seq("44197"))
  }

  test("excel fails naming the file when the header does not match the schema") {
    val dir = Files.createTempDirectory("graft_xlsx_header")
    val path = dir.resolve("passport_blacklist_01012021.xlsx")
    // Columns swapped: read by position, passports would land as dates.
    XlsxFixture.writeSheet(path, "blacklist",
      Seq(Seq("passport", "date"), Seq("P3", "2021-01-01")))
    val ex = intercept[IllegalArgumentException] {
      Sources.excel(spark, path.toString, "blacklist", Sources.stringSchema("date", "passport"))
    }
    assert(ex.getMessage.contains(path.toString) && ex.getMessage.contains("header"), ex.getMessage)
    // The same names in another case are the same header, as in csv.
    XlsxFixture.writeSheet(path, "blacklist",
      Seq(Seq("DATE", "Passport"), Seq("2021-01-01", "P3")))
    val df = Sources.excel(spark, path.toString, "blacklist", Sources.stringSchema("date", "passport"))
    assert(df.collect().map(r => (r.getString(0), r.getString(1))).toSeq === Seq(("2021-01-01", "P3")))
  }

  test("excel fails clearly on a path that is not a workbook") {
    val dir = Files.createTempDirectory("graft_xlsx_none")
    val placeholder = Files.createFile(dir.resolve("passport_blacklist_01012021.xlsx"))
    // Missing, and present but not a ZIP archive: both name the path.
    Seq(dir.resolve("black_list_01012021.xlsx"), placeholder).foreach { p =>
      val ex = intercept[IllegalArgumentException] {
        Sources.excel(spark, p.toString, "blacklist", Sources.stringSchema("passport"))
      }
      assert(ex.getMessage.contains(p.toString) && ex.getMessage.contains("not an .xlsx workbook"))
    }
  }

  test("incremental pushes the coalesce watermark predicate (cards.py:50-56)") {
    val wm = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
    val df = Seq(
      (1, java.sql.Timestamp.valueOf("2024-01-20 00:00:00"), null.asInstanceOf[java.sql.Timestamp]),
      (2, null.asInstanceOf[java.sql.Timestamp], java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
      (3, null.asInstanceOf[java.sql.Timestamp], java.sql.Timestamp.valueOf("2024-01-16 00:00:00")))
      .toDF("id", "update_dt", "create_dt")
    val got = Sources.incremental(df, "update_dt", "create_dt", wm)
      .select("id").as[Int].collect().toSet
    assert(got === Set(1, 3))
  }
}
