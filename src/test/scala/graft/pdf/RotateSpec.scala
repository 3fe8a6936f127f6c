package graft.pdf

import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1

/** /Rotate page attribute (SURVEY.md §2.7 G23): content written for a rotated
  * page must come out in display reading order. The fixture puts "first" at
  * the position a 90°-rotated viewer shows ABOVE "second".
  */
class RotateSpec extends AnyFunSuite {

  private def pdf(rotate: Int, content: String): Array[Byte] = PdfWriter(Seq(
    "<< /Type /Catalog /Pages 2 0 R >>",
    "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Rotate $rotate /Contents 4 0 R >>",
    PdfWriter.stream("", content.getBytes(ISO_8859_1))))

  test("Rotate 90: display-top line extracts first") {
    // display (90° cw): dispY grows with content x — "first" at smaller x is
    // the upper display line
    val content = "BT /F1 12 Tf 50 700 Td (first) Tj 70 0 Td (second) Tj ET"
    val doc = PdfDocument.open(pdf(90, content))
    // leading fake spaces are golden-surface artifacts; reading order is the claim
    assert(doc.extractPageText(0).linesIterator.map(_.trim).toSeq == Seq("first", "second"))
  }

  test("Rotate 180: bottom-up content reads top-down") {
    // 180°: larger pdf y displays LOWER; write "second" above "first" in raw
    // page space so the rotated view reads first, then second
    val content = "BT /F1 12 Tf 100 200 Td (first) Tj 0 300 Td (second) Tj ET"
    val doc = PdfDocument.open(pdf(180, content))
    assert(doc.extractPageText(0).linesIterator.map(_.trim).toSeq == Seq("first", "second"))
  }

  test("Rotate 0 unchanged") {
    val content = "BT /F1 12 Tf 100 700 Td (first) Tj 0 -20 Td (second) Tj ET"
    val doc = PdfDocument.open(pdf(0, content))
    assert(doc.extractPageText(0).linesIterator.map(_.trim).toSeq == Seq("first", "second"))
  }
}
