package graft.io

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.scalatest.funsuite.AnyFunSuite

/** Hostile workbooks: each must fail as one [[MalformedXlsxException]]
  * that names the file and the zip entry, never as a bare parser, index
  * or zip error (and never by reading a local file into a cell).
  */
class XlsxSpec extends AnyFunSuite {

  private val SheetEntry = "xl/worksheets/sheet1.xml"
  private val SharedEntry = "xl/sharedStrings.xml"

  private def sheetXml(rows: String, prolog: String = ""): String =
    s"""<?xml version="1.0" encoding="UTF-8"?>$prolog""" +
      s"""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$rows</sheetData></worksheet>"""

  private def sharedXml(strings: String*): String =
    """<?xml version="1.0" encoding="UTF-8"?><sst>""" +
      strings.map(t => s"<si><t>$t</t></si>").mkString + "</sst>"

  private def xlsxBytes(entries: (String, String)*): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bytes)
    entries.foreach { case (name, body) =>
      zip.putNextEntry(new ZipEntry(name))
      zip.write(body.getBytes("UTF-8"))
      zip.closeEntry()
    }
    zip.close()
    bytes.toByteArray
  }

  private def write(bytes: Array[Byte]): Path = {
    val p = Files.createTempFile("graft_xlsx", ".xlsx")
    Files.write(p, bytes)
  }

  private def rejects(p: Path, entry: String): MalformedXlsxException = {
    val e = intercept[MalformedXlsxException](Xlsx.readSheet(p.toString))
    assert(e.path === p.toString)
    assert(e.entry === entry)
    assert(e.getMessage.contains(p.toString) && e.getMessage.contains(entry))
    e
  }

  test("a DOCTYPE is refused, so an external entity cannot inline a local file (XXE)") {
    val secret = Files.createTempFile("graft_xlsx_secret", ".txt")
    Files.writeString(secret, "do-not-read")
    val doctype = s"""<!DOCTYPE worksheet [<!ENTITY e SYSTEM "${secret.toUri}">]>"""
    val row = """<row r="1"><c r="A1" t="inlineStr"><is><t>&e;</t></is></c></row>"""
    rejects(write(xlsxBytes(SheetEntry -> sheetXml(row, doctype))), SheetEntry)
    // the same part in shared strings
    val shared = s"""<?xml version="1.0" encoding="UTF-8"?>$doctype<sst><si><t>&e;</t></si></sst>"""
    val ok = """<row r="1"><c r="A1" t="s"><v>0</v></c></row>"""
    rejects(write(xlsxBytes(SharedEntry -> shared, SheetEntry -> sheetXml(ok))), SharedEntry)
  }

  test("a cell reference past column XFD is rejected instead of padding the row") {
    val last = """<row r="1"><c r="XFD1" t="inlineStr"><is><t>x</t></is></c></row>"""
    val (header, _) = Xlsx.readSheet(write(xlsxBytes(SheetEntry -> sheetXml(last))).toString)
    assert(header.length === 16384 && header.last === "x")
    Seq("XFE1", "ZZZZZZ1").foreach { ref =>
      val row = s"""<row r="1"><c r="$ref" t="inlineStr"><is><t>x</t></is></c></row>"""
      val e = rejects(write(xlsxBytes(SheetEntry -> sheetXml(row))), SheetEntry)
      assert(e.getMessage.contains(ref))
    }
  }

  test("a shared-string index that is out of range or not a number is rejected") {
    Seq("1", "-1", "abc").foreach { idx =>
      val row = s"""<row r="1"><c r="B1" t="s"><v>$idx</v></c></row>"""
      val p = write(xlsxBytes(SharedEntry -> sharedXml("only"), SheetEntry -> sheetXml(row)))
      val e = rejects(p, SheetEntry)
      assert(e.getMessage.contains("B1"))
    }
  }

  test("a truncated workbook fails naming the file, not as a bare ZipException") {
    val row = """<row r="1"><c r="A1" t="inlineStr"><is><t>name</t></is></c></row>"""
    val whole = xlsxBytes(SheetEntry -> sheetXml(row))
    assert(Xlsx.readSheet(write(whole).toString)._1 === Seq("name"))
    rejects(write(whole.take(whole.length / 2)), SheetEntry)
  }
}
