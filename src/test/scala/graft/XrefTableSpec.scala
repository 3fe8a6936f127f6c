package graft

import graft.extract.Extractor
import graft.pdf.PdfDocument
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

/** Classic xref tables at real offsets, chained by `/Prev` (SURVEY.md §2.1
  * S3/S4): the layout `perfbench/gen.py` writes, plus an incremental update.
  * `PdfWriter` files open through the recovery scan, so without this file no
  * test reads a table.
  */
class XrefTableSpec extends AnyFunSuite {

  test("an incremental update's xref table wins over a later unreferenced copy") {
    val pdf = XrefTableSpec.updatedPdf
    assert(PdfDocument.open(pdf).extractText == "updated text")
    // the same text through the call extract_turn runs on a whole-PDF payload
    assert(Extractor.extract(new String(pdf, ISO_8859_1)).text == "updated text")
  }
}

object XrefTableSpec {

  /** One page whose content object 5 is replaced by an incremental update
    * (its own xref table and a trailer with `/Prev`); after the update's
    * `%%EOF` sits an unreferenced stale copy of object 5, which the recovery
    * scan (later offsets win) would read instead. */
  private[graft] def updatedPdf: Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def write(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    def obj(num: Int, body: String): Int = {
      val at = out.size
      write(s"$num 0 obj\n$body\nendobj\n")
      at
    }
    def content(text: String): String = {
      val c = s"BT /F1 12 Tf 72 720 Td ($text) Tj ET"
      s"<< /Length ${c.length} >>\nstream\n$c\nendstream"
    }
    def entry(offset: Int): String = f"$offset%010d 00000 n \n"

    write("%PDF-1.4\n%\u00e2\u00e3\u00cf\u00d3\n")
    val offsets = Seq(
      obj(1, "<< /Type /Catalog /Pages 2 0 R >>"),
      obj(2, "<< /Type /Pages /Kids [4 0 R] /Count 1 >>"),
      obj(3, "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>"),
      obj(4, "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 3 0 R >> >> /Contents 5 0 R >>"),
      obj(5, content("original text")))
    val xref1 = out.size
    write("xref\n0 6\n0000000000 65535 f \n" + offsets.map(entry).mkString)
    write(s"trailer\n<< /Size 6 /Root 1 0 R >>\nstartxref\n$xref1\n%%EOF\n")

    val updated = obj(5, content("updated text"))
    val xref2 = out.size
    write("xref\n0 1\n0000000000 65535 f \n5 1\n" + entry(updated))
    write(s"trailer\n<< /Size 6 /Root 1 0 R /Prev $xref1 >>\nstartxref\n$xref2\n%%EOF\n")

    obj(5, content("stale text"))
    out.toByteArray
  }
}
