package graft.pdf

import graft.extract.Extractor
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

  /** Trimmed page lines through the document and through `Extractor.extract`,
    * the call `extract_turn` runs on a whole-PDF payload. */
  private def lines(rotate: Int, content: String): (Seq[String], Seq[String]) = {
    val bytes = pdf(rotate, content)
    def trimmed(text: String) = text.linesIterator.map(_.trim).toSeq
    (trimmed(PdfDocument.open(bytes).pageText(0).text),
      trimmed(Extractor.extract(new String(bytes, ISO_8859_1)).text))
  }

  test("Rotate 90: display-top line extracts first") {
    // display (90° cw): dispY grows with content x — "first" at smaller x is
    // the upper display line
    val content = "BT /F1 12 Tf 50 700 Td (first) Tj 70 0 Td (second) Tj ET"
    // leading fake spaces are golden-surface artifacts; reading order is the claim
    assert(lines(90, content) == (Seq("first", "second"), Seq("first", "second")))
  }

  test("Rotate 180: bottom-up content reads top-down") {
    // 180°: larger pdf y displays LOWER; write "second" above "first" in raw
    // page space so the rotated view reads first, then second
    val content = "BT /F1 12 Tf 100 200 Td (first) Tj 0 300 Td (second) Tj ET"
    assert(lines(180, content) == (Seq("first", "second"), Seq("first", "second")))
  }

  test("Rotate 0 unchanged") {
    val content = "BT /F1 12 Tf 100 700 Td (first) Tj 0 -20 Td (second) Tj ET"
    assert(lines(0, content) == (Seq("first", "second"), Seq("first", "second")))
  }
}
