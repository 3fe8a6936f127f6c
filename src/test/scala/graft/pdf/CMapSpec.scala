package graft.pdf

import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1

/** The CMap reader's entry rule, which `/ToUnicode` and embedded CID CMaps
  * share: a code longer than 4 bytes is skipped, and range expansion stops at
  * 1 << 20 entries, so one malformed font neither exhausts the heap nor loses
  * its other mappings.
  */
class CMapSpec extends AnyFunSuite {

  private def cmap(body: String): Array[Byte] =
    s"/CIDInit /ProcSet findresource begin\nbegincmap\n$body\nendcmap\nend".getBytes(ISO_8859_1)

  test("a /ToUnicode bfrange over 1,114,112 codes stops at 1 << 20 entries") {
    val m = ToUnicodeCMap.parse(cmap("1 beginbfrange\n<00000000> <0010FFFF> <0041>\nendbfrange"))
    assert(m.size <= (1 << 20), s"${m.size} entries")
    assert(m.get(0).contains("A") && m.get(1).contains("B"))
  }

  test("entries apply in file order: a later bfchar overrides an earlier bfrange") {
    // the reference's order; the former regex parser applied every bfchar
    // section before every bfrange section, so the range won (code 2 -> "B")
    val m = ToUnicodeCMap.parse(cmap(
      "1 beginbfrange\n<01> <03> <0041>\nendbfrange\n1 beginbfchar\n<02> <0058>\nendbfchar"))
    assert(m == Map(1 -> "A", 2 -> "X", 3 -> "C"))
  }

  test("a 9-byte /ToUnicode bfchar code is skipped; the font keeps its other mappings") {
    val toUnicode = cmap(
      "1 begincodespacerange\n<00> <FF>\nendcodespacerange\n" +
        "3 beginbfchar\n<41> <0058>\n<FFFFFFFFFFFFFFFFFF> <0041>\n<42> <0059>\nendbfchar")
    val pdf = PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 6 0 R >>",
      PdfWriter.stream("", "BT /F1 12 Tf 72 720 Td (AB) Tj ET".getBytes(ISO_8859_1)),
      PdfWriter.stream("", toUnicode)))
    assert(PdfDocument.open(pdf).extractText == "XY")
  }
}
