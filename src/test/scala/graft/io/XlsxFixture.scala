package graft.io

import java.nio.file.{Files, Path}

/** REAL (minimal, spec-conformant) `.xlsx` workbooks written with
  * java.util.zip — an independent writer path, so reads are tested
  * against the OOXML format, not against the parser's own code. */
object XlsxFixture {

  /** Zip `parts` (entry name → XML text) into a workbook at `path`. */
  def writeParts(path: Path, parts: Seq[(String, String)]): Unit = {
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(path))
    try parts.foreach { case (name, content) =>
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8"))
      zip.closeEntry()
    } finally zip.close()
  }

  /** `xl/workbook.xml`, its rels and one worksheet part per sheet,
    * given in order as (sheet name, `<sheetData>` body). Sheet N is
    * stored as `worksheets/sheetN.xml` and addressed through the rels,
    * as Excel writes it. */
  def workbookParts(sheets: Seq[(String, String)]): Seq[(String, String)] = {
    val numbered = sheets.zip(LazyList.from(1))
    Seq(
      "xl/workbook.xml" ->
        s"""<?xml version="1.0"?>
          |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
          |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
          |<sheets>
          |${numbered.map { case ((name, _), i) => s"""<sheet name="$name" sheetId="$i" r:id="rId$i"/>""" }.mkString("\n")}
          |</sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        s"""<?xml version="1.0"?>
          |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
          |${numbered.map { case (_, i) => s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""" }.mkString("\n")}
          |</Relationships>""".stripMargin) ++
      numbered.map { case ((_, data), i) =>
        s"xl/worksheets/sheet$i.xml" ->
          s"""<?xml version="1.0"?>
            |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
            |<sheetData>$data</sheetData></worksheet>""".stripMargin
      }
  }

  /** A one-sheet workbook whose cells are all inline strings (the
    * header row first). Dates go in as text: the parser rejects
    * date-formatted numeric cells. */
  def writeSheet(path: Path, sheet: String, rows: Seq[Seq[String]]): Unit =
    writeParts(path, workbookParts(Seq(sheet -> rows.zipWithIndex.map { case (cells, r) =>
      cells.zipWithIndex.map { case (v, c) =>
        s"""<c r="${('A' + c).toChar}${r + 1}" t="inlineStr"><is><t>$v</t></is></c>"""
      }.mkString(s"""<row r="${r + 1}">""", "", "</row>")
    }.mkString("\n"))))
}
