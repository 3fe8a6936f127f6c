package graft.pdf

import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Type1 (PFA/PFB) builtin-encoding amendment (SURVEY.md §2.5 F7; reference
  * Type1Parser.extractFontHeader, pdf.combined.js:37421-37474): a symbolic
  * Type1 program's cleartext /Encoding maps charcodes to glyph names, which
  * amend toUnicode through the Adobe Glyph List when the PDF dict is silent.
  */
class Type1EncodingSpec extends AnyFunSuite {

  private val pfa =
    """%!PS-AdobeFont-1.0: TestSym 001.001
      |/FontName /TestSym def
      |/FontMatrix [0.001 0 0 0.001 0 0] readonly def
      |/Encoding 256 array
      |0 1 255 {1 index exch /.notdef put} for
      |dup 65 /alpha put
      |dup 66 /beta put
      |readonly def
      |currentdict end
      |currentfile eexec
      |BINARYGARBAGE0123456789
      |""".stripMargin

  test("PFA header: dup/put array encoding extracted") {
    val enc = Type1Parser.builtinEncoding(pfa.getBytes(ISO_8859_1))
    assert(enc == Map(65 -> "alpha", 66 -> "beta"))
  }

  test("PFA header: named StandardEncoding resolves through the public table") {
    val named = pfa.replaceAll("(?s)/Encoding 256 array.*?readonly def",
      "/Encoding StandardEncoding def")
    val enc = Type1Parser.builtinEncoding(named.getBytes(ISO_8859_1))
    assert(enc(65) == "A" && enc(97) == "a")
  }

  test("PFB segmentation: encoding found inside the ascii segment") {
    val ascii = pfa.getBytes(ISO_8859_1)
    val out = new java.io.ByteArrayOutputStream()
    def seg(t: Int, data: Array[Byte]): Unit = {
      out.write(0x80); out.write(t)
      out.write(data.length & 0xff); out.write((data.length >> 8) & 0xff)
      out.write((data.length >> 16) & 0xff); out.write((data.length >> 24) & 0xff)
      out.write(data)
    }
    seg(1, ascii)
    seg(2, Array.fill[Byte](32)(0x55))
    seg(3, Array.emptyByteArray)
    val enc = Type1Parser.builtinEncoding(out.toByteArray)
    assert(enc == Map(65 -> "alpha", 66 -> "beta"))
  }

  test("end-to-end: symbolic Type1 font's builtin encoding drives glyph text") {
    val prog = pfa.getBytes(ISO_8859_1)
    val doc = PdfDocument.open(PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 4 0 R >> >> /Contents 7 0 R >>",
      // no /Encoding in the dict: the program's builtin mapping must win
      "<< /Type /Font /Subtype /Type1 /BaseFont /TestSym " +
        "/FirstChar 65 /LastChar 66 /Widths [500 500] /FontDescriptor 5 0 R >>",
      "<< /Type /FontDescriptor /FontName /TestSym /Flags 4 /FontFile 6 0 R >>",
      PdfWriter.stream(s"/Length1 ${prog.length}", prog),
      PdfWriter.stream("", "BT /F1 12 Tf 72 720 Td (AB) Tj ET".getBytes(ISO_8859_1)))))
    val runs = doc.evalPage(0).runs
    // alpha -> U+03B1, beta -> U+03B2 via the Adobe Glyph List
    assert(runs.map(_.text) == Vector("αβ"), runs.map(_.text))
  }
}
