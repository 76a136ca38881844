package graft.io

import java.io.{IOException, InputStream}
import java.util.zip.{ZipEntry, ZipException, ZipFile}
import javax.xml.parsers.{SAXParser, SAXParserFactory}
import org.xml.sax.{Attributes, SAXException}
import org.xml.sax.helpers.DefaultHandler

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import scala.collection.mutable

/** Zero-dependency XLSX reader (reference `read.xlsx(file, 1)`,
  * notebooks/index.Rmd:135,547): `java.util.zip` + the JDK SAX parser
  * over `xl/worksheets/sheetN.xml` and `xl/sharedStrings.xml`.
  *
  * Scope is exactly what SpreadsheetML needs for data tables: shared
  * strings (t="s"), inline strings (t="inlineStr" / t="str"), numbers,
  * and booleans. Formatting/styles/dates-as-serials are out of scope
  * (the reference data has none).
  *
  * This is a DRIVER-SIDE source: spreadsheets are small config-scale
  * inputs (hundreds of rows). The resulting DataFrame participates in
  * distributed plans as a broadcast-sized side.
  *
  * A workbook that is not well-formed SpreadsheetML fails as one
  * [[MalformedXlsxException]] naming the file and the zip entry.
  */
object Xlsx {

  /** All cell values as strings. Numbers are formatted like R's
    * `as.character` on numerics: integral doubles print without a
    * trailing ".0" (1979.0 → "1979"), so downstream string/num casts
    * match the reference's read.xlsx → character coercion.
    */
  def readSheet(path: String, sheet: Int = 1): (Seq[String], Seq[Seq[String]]) = {
    val sheetEntry = s"xl/worksheets/sheet$sheet.xml"
    val zip = try new ZipFile(path) catch {
      case e: ZipException =>
        throw new MalformedXlsxException(path, sheetEntry, s"not a readable zip archive (${e.getMessage})", e)
    }
    try {
      val shared = Option(zip.getEntry("xl/sharedStrings.xml"))
        .map(e => parseEntry(path, zip, e)(parseSharedStrings))
        .getOrElse(Vector.empty)
      val entry = Option(zip.getEntry(sheetEntry))
        .getOrElse(throw new IllegalArgumentException(s"no sheet$sheet in $path"))
      val rows = parseEntry(path, zip, entry)(parseSheet(_, shared))
      if (rows.isEmpty) (Nil, Nil)
      else {
        val width = rows.map(_.length).max
        val padded = rows.map(r => r.padTo(width, null: String))
        (padded.head.map(h => if (h == null) "" else h), padded.tail)
      }
    } finally zip.close()
  }

  /** R's `make.names` convention as applied by read.xlsx: non-alnum
    * header characters become "." ("Program name" → "Program.name"),
    * so the reference's select() column names carry over verbatim.
    */
  def syntacticName(h: String): String = h.replaceAll("[^A-Za-z0-9.]", ".")

  /** DataFrame with all-string columns named via [[syntacticName]]. */
  def toDataFrame(spark: SparkSession, path: String, sheet: Int = 1): DataFrame = {
    val (headers, rows) = readSheet(path, sheet)
    val schema = StructType(headers.map(h => StructField(syntacticName(h), StringType, nullable = true)))
    val data = rows.map(r => Row.fromSeq(r))
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }

  // ------------------------------------------------------------------

  /** The last column SpreadsheetML allows (XFD). */
  private val MaxColumns = 16384

  /** Runs `parse` over one zip entry; a part that does not inflate or
    * does not parse fails as a [[MalformedXlsxException]] naming the
    * file and the entry.
    */
  private def parseEntry[A](path: String, zip: ZipFile, entry: ZipEntry)(parse: InputStream => A): A =
    try {
      val in = zip.getInputStream(entry)
      try parse(in) finally in.close()
    } catch {
      case e @ (_: IOException | _: SAXException) =>
        throw new MalformedXlsxException(path, entry.getName, e.getMessage, e)
    }

  /** OOXML parts never carry a DOCTYPE; refusing one rules out external
    * entities (XXE) and entity expansion.
    */
  private def saxParser(): SAXParser = {
    val f = SAXParserFactory.newInstance()
    f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    f.newSAXParser()
  }

  private def parseSharedStrings(in: java.io.InputStream): Vector[String] = {
    val out = Vector.newBuilder[String]
    val handler = new DefaultHandler {
      private var inT = false
      private var depth = 0
      private val sb = new StringBuilder
      override def startElement(uri: String, local: String, qName: String, a: Attributes): Unit =
        qName match {
          case "si" => sb.clear()
          case "t" => inT = true
          case _ => ()
        }
      override def endElement(uri: String, local: String, qName: String): Unit =
        qName match {
          case "si" => out += sb.toString
          case "t" => inT = false
          case _ => ()
        }
      override def characters(ch: Array[Char], start: Int, length: Int): Unit =
        if (inT) sb.appendAll(ch, start, length)
    }
    saxParser().parse(in, handler)
    out.result()
  }

  /** Column letter(s) of an A1-style cell ref → 0-based index; a ref
    * past column XFD is rejected before it can size a row.
    */
  private def colIndex(ref: String): Int = {
    var i = 0; var acc = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      acc = acc * 26 + (ref.charAt(i) - 'A' + 1); i += 1
      if (acc > MaxColumns) throw new SAXException(s"cell reference $ref is past column XFD")
    }
    acc - 1
  }

  /** Integral doubles print as longs (R `as.character(1979)` = "1979"). */
  private[io] def formatNumeric(raw: String): String =
    try {
      val d = raw.toDouble
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else raw
    } catch { case _: NumberFormatException => raw }

  private def parseSheet(in: java.io.InputStream, shared: Vector[String]): Vector[Vector[String]] = {
    val rows = Vector.newBuilder[Vector[String]]
    val handler = new DefaultHandler {
      private var row: mutable.ArrayBuffer[String] = _
      private var cellType: String = _
      private var cellRef: String = _
      private var cellCol: Int = -1
      private var inV = false
      private var inIs = false
      private val sb = new StringBuilder
      override def startElement(uri: String, local: String, qName: String, a: Attributes): Unit =
        qName match {
          case "row" => row = mutable.ArrayBuffer.empty
          case "c" =>
            cellType = Option(a.getValue("t")).getOrElse("n")
            cellRef = a.getValue("r")
            cellCol = Option(cellRef).map(colIndex).getOrElse(row.length)
            sb.clear()
          case "v" => inV = true
          case "is" => inIs = true
          case "t" if inIs => inV = true
          case _ => ()
        }
      override def endElement(uri: String, local: String, qName: String): Unit =
        qName match {
          case "row" => rows += row.toVector; row = null
          case "c" =>
            val raw = sb.toString
            val value = cellType match {
              case _ if raw.isEmpty && !inIs => null
              case "s" => raw.trim.toIntOption.filter(i => i >= 0 && i < shared.length).map(shared)
                .getOrElse(throw new SAXException(s"cell $cellRef: shared-string index '${raw.trim}' " +
                  s"is not one of the ${shared.length} shared strings"))
              case "b" => if (raw.trim == "1") "TRUE" else "FALSE"
              case "str" | "inlineStr" => raw
              case _ => formatNumeric(raw)
            }
            while (row.length < cellCol) row += null
            if (cellCol >= 0 && cellCol < row.length) row(cellCol) = value
            else row += value
            inIs = false
          case "v" => inV = false
          case "t" => if (inIs) inV = false
          case _ => ()
        }
      override def characters(ch: Array[Char], start: Int, length: Int): Unit =
        if (inV) sb.appendAll(ch, start, length)
    }
    saxParser().parse(in, handler)
    rows.result()
  }
}

/** A workbook that cannot be read as SpreadsheetML: a zip that does not
  * open, or a part that does not inflate or parse, or that holds a
  * DOCTYPE, a cell past column XFD or a shared-string index outside the
  * table. `entry` is the zip entry being read (for an archive that does
  * not open, the sheet that was asked for).
  */
final class MalformedXlsxException(val path: String, val entry: String, detail: String, cause: Throwable)
  extends IOException(s"$path ($entry): $detail", cause)
