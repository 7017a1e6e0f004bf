package graft.io

import java.util.zip.ZipFile
import javax.xml.parsers.DocumentBuilderFactory
import org.w3c.dom.{Document, Element}
import scala.collection.mutable.ArrayBuffer

/** Minimal pure-JVM `.xlsx` reader — no library, no connector.
  *
  * An xlsx workbook is a ZIP of XML parts (ECMA-376 / OOXML
  * SpreadsheetML): `xl/workbook.xml` names the sheets,
  * `xl/_rels/workbook.xml.rels` maps each sheet to its part,
  * `xl/sharedStrings.xml` interns string cells, and each
  * `xl/worksheets/sheetN.xml` holds `<row><c r="A1" t="s"><v>…` cells.
  * That subset — shared strings, inline strings, formula-string and
  * numeric cells, sparse cells addressed by `r=` — covers every
  * workbook the reference pipeline reads (`terminals.py:54`,
  * `black_list.py:57`: plain tabular sheets) and is what this parser
  * implements. Anything outside it fails loudly rather than guessing.
  *
  * DRIVER-SIDE by design: a zip archive is not splittable and Excel
  * workbooks are small dimension/blacklist drops by nature (the
  * reference reads them with driver-side pandas). [[MaxBytes]] bounds
  * the driver cost loudly; data at scale belongs in parquet/CSV, and
  * [[Sources.excel]] turns the parsed rows into a regular DataFrame
  * so everything downstream is distributed as usual.
  */
object XlsxLite {

  /** Workbook-size bound for the driver-side parse (50 MiB zip —
    * orders of magnitude above any real dimension drop; a "workbook"
    * bigger than this is data masquerading as config). */
  val MaxBytes: Long = 50L * 1024 * 1024

  /** Raw cell grid of one sheet: header row included, one
    * `Array[String]` per `<row>` (null = absent cell), column order by
    * the cells' `r=` references. */
  def read(path: String, sheet: String): Seq[Array[String]] = {
    val f = new java.io.File(path)
    require(f.length() <= MaxBytes,
      s"xlsx-lite: ${f.length()} bytes exceeds the $MaxBytes driver-side bound " +
        "— convert oversized workbooks to CSV/parquet upstream")
    val zip = new ZipFile(f)
    try {
      val workbook = parse(zip, "xl/workbook.xml")
      val rels = parse(zip, "xl/_rels/workbook.xml.rels")
      val sheetTarget = resolveSheet(workbook, rels, sheet)
      val shared = entry(zip, "xl/sharedStrings.xml")
        .map(parseDoc).map(sharedStrings).getOrElse(Vector.empty)
      sheetRows(parse(zip, sheetTarget), shared, dateStyles(zip))
    } finally zip.close()
  }

  /** Untrusted-input guard #2 (the zip-size check is #1): [[MaxBytes]]
    * bounds only the COMPRESSED archive, but each XML part is
    * DOM-parsed fully in driver memory — a tiny zip of
    * highly-compressible XML (zip bomb) could exhaust the driver
    * despite passing the size check. Every entry stream therefore
    * fails loudly once its DECOMPRESSED bytes exceed the same bound. */
  private def bounded(in: java.io.InputStream): java.io.InputStream =
    new java.io.FilterInputStream(in) {
      private var n = 0L
      private def bump(k: Long): Unit = {
        n += k
        if (n > MaxBytes) throw new IllegalArgumentException(
          s"xlsx-lite: XML part decompresses past the $MaxBytes-byte bound (zip bomb?)")
      }
      override def read(): Int = {
        val b = super.read(); if (b >= 0) bump(1); b
      }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        val k = super.read(buf, off, len); if (k > 0) bump(k); k
      }
    }

  private def entry(zip: ZipFile, name: String): Option[java.io.InputStream] =
    Option(zip.getEntry(name)).map(e => bounded(zip.getInputStream(e)))

  private def parse(zip: ZipFile, name: String): Document =
    parseDoc(entry(zip, name).getOrElse(
      throw new IllegalArgumentException(s"xlsx-lite: missing workbook part $name")))

  private def parseDoc(in: java.io.InputStream): Document = {
    val dbf = DocumentBuilderFactory.newInstance()
    // Workbooks are untrusted input: no DTDs, no external entities.
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    dbf.setExpandEntityReferences(false)
    try dbf.newDocumentBuilder().parse(in) finally in.close()
  }

  private def elems(parent: Element, tag: String): Seq[Element] = {
    val nl = parent.getElementsByTagName(tag)
    (0 until nl.getLength).map(nl.item(_).asInstanceOf[Element])
  }

  /** Sheet name → worksheet part path, via the workbook's relationship
    * id (sheet order in the zip is NOT the sheet order users see —
    * the rels indirection is the spec'd addressing). */
  private def resolveSheet(workbook: Document, rels: Document, sheet: String): String = {
    val sheets = elems(workbook.getDocumentElement, "sheet")
    val rid = sheets.find(_.getAttribute("name") == sheet)
      .map(_.getAttribute("r:id"))
      .getOrElse(throw new IllegalArgumentException(
        s"xlsx-lite: no sheet '$sheet' (have: ${sheets.map(_.getAttribute("name")).mkString(", ")})"))
    val target = elems(rels.getDocumentElement, "Relationship")
      .find(_.getAttribute("Id") == rid)
      .map(_.getAttribute("Target"))
      .getOrElse(throw new IllegalArgumentException(
        s"xlsx-lite: unresolvable sheet relationship $rid"))
    if (target.startsWith("/")) target.stripPrefix("/") else s"xl/$target"
  }

  /** `<si>` entries, concatenating every descendant `<t>` (plain and
    * rich-text-run strings both). */
  private def sharedStrings(doc: Document): Vector[String] =
    elems(doc.getDocumentElement, "si")
      .map(si => elems(si, "t").map(_.getTextContent).mkString).toVector

  /** 0-based `cellXfs` style indexes whose number format is a
    * DATE/TIME format: builtin numFmtIds 14–22 / 45–47, or a custom
    * `numFmt` whose code carries date tokens (y/m/d/h/s outside quoted
    * literals, escapes, and `[...]` sections). Numeric cells styled
    * this way hold Excel DATE SERIALS ("44197"), which this parser
    * does not convert — returning the raw serial would silently
    * diverge from the reference pipeline's pandas-based read, so such
    * cells FAIL LOUDLY instead ([[cellValue]]); a workbook must carry
    * its dates as text cells. */
  private def dateStyles(zip: ZipFile): Set[Int] =
    entry(zip, "xl/styles.xml").map(parseDoc).fold(Set.empty[Int]) { doc =>
      val builtin = ((14 to 22) ++ (45 to 47)).toSet
      val custom = elems(doc.getDocumentElement, "numFmt").flatMap { f =>
        val bare = f.getAttribute("formatCode")
          .replaceAll("\"[^\"]*\"|\\\\.|\\[[^\\]]*\\]", "")
        if (bare.exists(ch => "ymdhsYMDHS".indexOf(ch.toInt) >= 0))
          Some(f.getAttribute("numFmtId").toInt)
        else None
      }.toSet
      elems(doc.getDocumentElement, "cellXfs").headOption
        .map(x => elems(x, "xf")).getOrElse(Seq.empty)
        .zipWithIndex.collect {
          case (xf, i) if xf.getAttribute("numFmtId").nonEmpty &&
            (builtin(xf.getAttribute("numFmtId").toInt) ||
              custom(xf.getAttribute("numFmtId").toInt)) => i
        }.toSet
    }

  private def sheetRows(doc: Document, shared: Vector[String],
                        dateStyles: Set[Int]): Seq[Array[String]] = {
    val out = ArrayBuffer.empty[Array[String]]
    elems(doc.getDocumentElement, "row").foreach { row =>
      val cells = elems(row, "c").map { c =>
        val ref = c.getAttribute("r")
        require(ref.nonEmpty, "xlsx-lite: cell without an r= reference")
        (colIndex(ref), cellValue(c, shared, dateStyles))
      }
      val width = cells.map(_._1).maxOption.fold(0)(_ + 1)
      val arr = new Array[String](width)
      cells.foreach { case (i, v) => arr(i) = v.orNull }
      out += arr
    }
    out.toSeq
  }

  private def cellValue(c: Element, shared: Vector[String],
                        dateStyles: Set[Int]): Option[String] = {
    def v = elems(c, "v").headOption.map(_.getTextContent)
    c.getAttribute("t") match {
      case "s" => v.map(s => shared(s.trim.toInt)) // shared-string index
      case "inlineStr" =>
        elems(c, "is").headOption.map(is => elems(is, "t").map(_.getTextContent).mkString)
      case "" | "n" =>
        val style = c.getAttribute("s")
        if (style.nonEmpty && dateStyles(style.trim.toInt))
          throw new IllegalArgumentException(
            s"xlsx-lite: cell ${c.getAttribute("r")} is date-formatted (Excel serial) " +
              "— unsupported; convert the workbook to CSV upstream")
        v
      case "str" | "b" => v // formula-string / bool as stored
      case other =>
        throw new IllegalArgumentException(s"xlsx-lite: unsupported cell type '$other'")
    }
  }

  /** "AB12" → 0-based column 27. */
  private def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    require(letters.nonEmpty, s"xlsx-lite: bad cell reference '$ref'")
    letters.foldLeft(0)((acc, ch) => acc * 26 + (ch.toUpper - 'A' + 1)) - 1
  }
}
