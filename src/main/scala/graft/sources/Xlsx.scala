package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Minimal XLSX (ECMA-376 SpreadsheetML) reader/writer on JDK zip + StAX —
  * zero new dependencies. Closes the reference's Excel ingestion path
  * (ondine/stages/data_loader_stage.py:95-108, pandas read_excel).
  *
  * Scale stance, stated plainly: XLSX is an INGEST/EGRESS convenience
  * format, not a data-lake format — the container is one non-splittable
  * zip, so the reference reads it single-node through pandas and this
  * reader is likewise driver-side. Convert to parquet once and let every
  * downstream scan split/prune; the writer streams rows via
  * `toLocalIterator` (no whole-frame collect) but is still bounded by
  * one machine — use it for reports, not datasets.
  *
  * Reader coverage is wider than what the writer emits (so round-trip
  * tests are not self-consistent by construction): shared strings
  * (`t="s"`), inline strings (`t="inlineStr"`), plain numeric cells,
  * gap cells via `r="C5"`-style references, and `xml:space="preserve"`.
  * All values surface as strings (header row = column names), matching
  * the CSV reader's pre-inferSchema shape.
  */
object Xlsx {

  // --- reading ----------------------------------------------------------

  /** Column index from an A1-style cell reference ("BC12" → 54). */
  private[graft] def colIndex(ref: String): Int = {
    var i = 0
    var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i).toUpper - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  private def entryBytes(zip: ZipFile, name: String): Option[Array[Byte]] =
    Option(zip.getEntry(name)).map { e =>
      val in = zip.getInputStream(e)
      try in.readAllBytes() finally in.close()
    }

  /** Parse sharedStrings.xml → indexed strings (concatenating rich-text
    * runs: a formatted cell holds several <t> under one <si>). */
  /** Hardened StAX factory: DTDs and external entities OFF — an
    * attacker-supplied workbook must not get XXE file disclosure or a
    * billion-laughs expansion out of the driver (same adversarial-bytes
    * posture as the PDF reader). */
  private def secureXmlFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  private def sharedStrings(zip: ZipFile): IndexedSeq[String] = {
    entryBytes(zip, "xl/sharedStrings.xml") match {
      case None => IndexedSeq.empty
      case Some(bytes) =>
        val out = ArrayBuffer.empty[String]
        val r = secureXmlFactory().createXMLStreamReader(
          new java.io.ByteArrayInputStream(bytes), "UTF-8")
        var current: StringBuilder = null
        var inT = false
        while (r.hasNext) {
          r.next() match {
            case XMLStreamConstants.START_ELEMENT =>
              r.getLocalName match {
                case "si" => current = new StringBuilder
                case "t" if current != null => inT = true
                case _ => ()
              }
            case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
              if (inT) current.append(r.getText)
            case XMLStreamConstants.END_ELEMENT =>
              r.getLocalName match {
                case "t" => inT = false
                case "si" => out += current.toString; current = null
                case _ => ()
              }
            case _ => ()
          }
        }
        r.close()
        out.toIndexedSeq
    }
  }

  /** Read the first worksheet of `path` into a DataFrame of strings.
    * Row 1 holds the column names; a blank name cell reads as `_c<i>`. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val zip = new ZipFile(path)
    try {
      val shared = sharedStrings(zip)
      val sheetBytes = entryBytes(zip, "xl/worksheets/sheet1.xml").getOrElse(
        throw new IllegalArgumentException(
          s"$path has no xl/worksheets/sheet1.xml — not an xlsx workbook?"))
      val rows = ArrayBuffer.empty[ArrayBuffer[String]]
      val r = secureXmlFactory().createXMLStreamReader(
        new java.io.ByteArrayInputStream(sheetBytes), "UTF-8")
      var row: ArrayBuffer[String] = null
      var cellCol = 0
      var cellType = ""
      var value: StringBuilder = null
      var collecting = false
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" => row = ArrayBuffer.empty[String]
              case "c" =>
                cellCol = Option(r.getAttributeValue(null, "r"))
                  .map(colIndex).getOrElse(row.length)
                cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
              case "v" | "t" if row != null =>
                // a rich-text inline string has one <t> PER RUN under the
                // same cell — append runs, don't reset mid-cell
                if (value == null) value = new StringBuilder
                collecting = true
              case _ => ()
            }
          case XMLStreamConstants.CHARACTERS | XMLStreamConstants.CDATA =>
            if (collecting) value.append(r.getText)
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "v" | "t" => collecting = false
              case "c" if value != null =>
                val raw = value.toString
                val resolved = cellType match {
                  case "s" => shared(raw.trim.toInt)
                  case _   => raw
                }
                while (row.length < cellCol) row += null // gap cells
                row += resolved
                value = null
              case "row" => rows += row; row = null
              case _ => ()
            }
          case _ => ()
        }
      }
      r.close()
      val width = if (rows.isEmpty) 0 else rows.map(_.length).max
      val padded = rows.map(rw => rw.padTo(width, null).toSeq)
      val names = padded.headOption.toSeq.flatMap(_.zipWithIndex.map {
        case (n, i) => Option(n).getOrElse(s"_c$i") })
      val data = padded.drop(1)
      val schema = StructType(names.map(n =>
        StructField(n, StringType, nullable = true)).toSeq)
      spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(
            data.map(Row.fromSeq)).asJava),
        schema)
    } finally zip.close()
  }

  // --- writing ----------------------------------------------------------

  private def xmlEscape(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c   => sb.append(c)
    }
    sb.toString
  }

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
      |<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>
      |<Default Extension="xml" ContentType="application/xml"/>
      |<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>
      |<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>
      |</Types>""".stripMargin

  private val RootRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>
      |</Relationships>""".stripMargin

  private val WorkbookXml =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
      |<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets>
      |</workbook>""".stripMargin

  private val WorkbookRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
      |</Relationships>""".stripMargin

  /** A1-style reference for (row, col), both 0-based ("BC12" ← (11, 54)). */
  private[graft] def cellRef(row: Int, colIdx: Int): String = {
    var c = colIdx + 1
    val sb = new StringBuilder
    while (c > 0) {
      sb.insert(0, ('A' + (c - 1) % 26).toChar)
      c = (c - 1) / 26
    }
    sb.append(row + 1).toString
  }

  /** Write `df` to one xlsx workbook (header row + inline-string cells,
    * `xml:space="preserve"` so whitespace round-trips). Null cells are
    * OMITTED and every emitted cell carries its explicit `r=` reference —
    * a ref-less writer shifts columns left past a mid-row null on read.
    * Rows stream from the cluster via `toLocalIterator` — driver memory
    * holds one row. */
  def write(df: DataFrame, path: String): Unit = {
    val zos = new ZipOutputStream(
      new BufferedOutputStream(new FileOutputStream(path)))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    try {
      put("[Content_Types].xml", ContentTypes)
      put("_rels/.rels", RootRels)
      put("xl/workbook.xml", WorkbookXml)
      put("xl/_rels/workbook.xml.rels", WorkbookRels)
      zos.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
      def writeStr(s: String): Unit =
        zos.write(s.getBytes(StandardCharsets.UTF_8))
      writeStr("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      writeStr("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      var rowIdx = 0
      def writeRow(cells: Seq[String]): Unit = {
        writeStr(s"""<row r="${rowIdx + 1}">""")
        cells.zipWithIndex.foreach { case (cell, i) =>
          if (cell != null) writeStr(
            s"""<c r="${cellRef(rowIdx, i)}" t="inlineStr">""" +
              s"""<is><t xml:space="preserve">${xmlEscape(cell)}</t></is></c>""")
        }
        writeStr("</row>")
        rowIdx += 1
      }
      writeRow(df.columns.toSeq)
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        writeRow((0 until row.length).map(i =>
          if (row.isNullAt(i)) null else String.valueOf(row.get(i))))
      }
      writeStr("</sheetData></worksheet>")
      zos.closeEntry()
    } finally zos.close()
  }
}
