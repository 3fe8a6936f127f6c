package graft.pdf

import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Form-XObject decode memoization: a page stamping the same form repeatedly
  * (headers, watermarks) must inflate and parse it once (reference memoizes
  * per name, pdf.combined.js:46329-46335; we key by indirect object).
  */
class FormMemoSpec extends AnyFunSuite {

  test("repeated Do of the same form decodes it once; output repeats") {
    val content =
      "q 1 0 0 1 0 0 cm /Fm1 Do Q q 1 0 0 1 0 -20 cm /Fm1 Do Q q 1 0 0 1 0 -40 cm /Fm1 Do Q"
    val form = "BT /F1 10 Tf 72 700 Td (stamp) Tj ET"
    val doc = PdfDocument.open(PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /XObject << /Fm1 5 0 R >> >> /Contents 4 0 R >>",
      PdfWriter.stream("", content.getBytes(ISO_8859_1)),
      PdfWriter.stream("/Type /XObject /Subtype /Form", form.getBytes(ISO_8859_1)))))
    val runs = doc.evalPage(0).runs
    assert(runs.map(_.text) == Vector("stamp", "stamp", "stamp"))
    // one memo entry for the one indirect form: the three Do's share its decode
    assert(doc.formCache.keySet == Set("xobj:5:0"), doc.formCache.keySet)
    // the three stamps land at distinct page-space y (cm offsets applied via
    // the run matrix's translation, not the text-space y attribute)
    assert(runs.map(_.matrix(5)).distinct.length == 3)
  }
}
