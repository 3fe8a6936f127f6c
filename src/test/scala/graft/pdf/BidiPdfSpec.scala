package graft.pdf

import graft.extract.Extractor
import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Bidi split parity with the reference: the reading-order surface (page
  * text, the getTextContent analogue, which `extract_turn` returns for a
  * whole PDF) applies the RTL heuristic per line, while the tspan/SVG surface
  * never does — the reference runs runBidiTransform only in getTextContent
  * (pdf.combined.js:46033-46045).
  */
class BidiPdfSpec extends AnyFunSuite {

  // bytes A0-A3 mapped to Hebrew alef..dalet via /ToUnicode (high bytes: no
  // collision with the ASCII text in the fixture), so a latin-1 content
  // stream produces an RTL extraction
  private def pdf(content: String): Array[Byte] = {
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |12 dict begin
        |begincmap
        |1 begincodespacerange <00> <ff> endcodespacerange
        |4 beginbfchar
        |<A0> <05D0>
        |<A1> <05D1>
        |<A2> <05D2>
        |<A3> <05D3>
        |endbfchar
        |endcmap""".stripMargin
    PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
      PdfWriter.stream("", content.getBytes(ISO_8859_1)),
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 6 0 R >>",
      PdfWriter.stream("", cmap.getBytes(ISO_8859_1))))
  }

  /** Trimmed lines of the whole-PDF payload through `Extractor.extract`, the
    * call `extract_turn` runs (the file as a latin-1 string). */
  private def jobLines(content: String): Seq[String] =
    Extractor.extract(new String(pdf(content), ISO_8859_1)).text
      .linesIterator.map(_.trim).toSeq

  test("RTL line reverses on the reading-order surface, not on the tspan surface") {
    val content = "BT /F1 12 Tf 100 700 Td (\u00a0\u00a1\u00a2\u00a3) Tj 0 -20 Td (hello world) Tj ET"
    val doc = PdfDocument.open(pdf(content))
    val logical = "אבגד" // alef bet gimel dalet
    // reading order: the RTL line comes out REVERSED (visual → logical flip
    // per the reference's 30%-RTL heuristic), the LTR line untouched
    assert(doc.pageText(0).text.linesIterator.map(_.trim).toSeq ==
      Seq(logical.reverse, "hello world"))
    // the job's whole-PDF dialect reads the same page text
    assert(jobLines(content) == Seq(logical.reverse, "hello world"))
    // golden/tspan surface: byte-identical to the evaluator output — no bidi
    assert(doc.tspanTexts.map(_.trim) == Vector(logical, "hello world"))
  }

  test("pure-LTR documents are byte-identical with bidi enabled") {
    val content = "BT /F1 12 Tf 100 700 Td (hello) Tj 0 -20 Td (world (x)) Tj ET"
    val doc = PdfDocument.open(pdf(content))
    assert(doc.pageText(0).text.linesIterator.map(_.trim).toSeq == Seq("hello", "world (x)"))
    assert(jobLines(content) == Seq("hello", "world (x)"))
  }

  test("text-content items carry rtl direction and reordered strings") {
    val content = "BT /F1 12 Tf 100 700 Td (\u00a0\u00a1\u00a2\u00a3) Tj 0 -20 Td (hello) Tj ET"
    val doc = PdfDocument.open(pdf(content))
    val items = doc.textContentItems(0)
    assert(items.length == 2)
    // the RTL item flips visual -> logical and reports dir = "rtl", the LTR
    // item passes through with "ltr" (runBidiTransform parity)
    assert(items(0).dir == "rtl" && items(0).str == "אבגד".reverse)
    assert(items(1).dir == "ltr" && items(1).str == "hello")
  }
}
