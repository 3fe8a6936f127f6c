package graft.pdf

import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

/** Cross-document font dedupe (reference preEvaluateFont content hashing,
  * pdf.combined.js:46716-46793): identical font content loaded from two
  * separate documents must come back as the same FontSpec instance; any
  * content difference must miss the cache.
  */
class FontCacheSpec extends AnyFunSuite {

  private def miniPdf(fontWidths: String): Array[Byte] = PdfWriter(Seq(
    "<< /Type /Catalog /Pages 2 0 R >>",
    "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
    PdfWriter.stream("", "BT /F1 10 Tf 10 700 Td (hi) Tj ET".getBytes(ISO_8859_1)),
    "<< /Type /Font /Subtype /Type1 /BaseFont /Courier " +
      s"/FirstChar 32 /LastChar 33 /Widths [$fontWidths] /FontDescriptor 6 0 R >>",
    "<< /Type /FontDescriptor /FontName /Courier /Flags 33 /MissingWidth 600 >>"))

  test("identical font content across documents shares one FontSpec instance") {
    val a = new PdfFile(miniPdf("600 600"))
    val b = new PdfFile(miniPdf("600 600"))
    val da = a.resolve(PObj.PRef(5, 0)).asInstanceOf[PObj.PDict]
    val db = b.resolve(PObj.PRef(5, 0)).asInstanceOf[PObj.PDict]
    val fa = FontLoader.load(da, a)
    val fb = FontLoader.load(db, b)
    assert(fa eq fb, "expected the cross-document cache to return the same instance")
  }

  test("content difference (widths) misses the cache") {
    val a = new PdfFile(miniPdf("600 600"))
    val c = new PdfFile(miniPdf("600 700"))
    val da = a.resolve(PObj.PRef(5, 0)).asInstanceOf[PObj.PDict]
    val dc = c.resolve(PObj.PRef(5, 0)).asInstanceOf[PObj.PDict]
    val fa = FontLoader.load(da, a)
    val fc = FontLoader.load(dc, c)
    assert(!(fa eq fc))
    assert(fa.widths(33) == 600.0 && fc.widths(33) == 700.0)
  }

  test("a font whose load fails is loaded once across documents") {
    // BaseFont /, maps to "-", whose style-less name does not exist: the
    // loader throws and `load` falls back to the Helvetica metrics
    def doc(): PdfFile = new PdfFile(PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
      PdfWriter.stream("", "BT /F1 10 Tf 10 700 Td (hi) Tj ET".getBytes(ISO_8859_1)),
      "<< /Type /Font /Subtype /Type1 /BaseFont /, /FirstChar 32 /LastChar 32 /Widths [417] >>")))
    val (a, b) = (doc(), doc())
    val da = a.resolve(PObj.PRef(5, 0)).asInstanceOf[PObj.PDict]
    val db = b.resolve(PObj.PRef(5, 0)).asInstanceOf[PObj.PDict]
    assert(FontLoader.cached(db, b).isEmpty)
    assert(FontLoader.load(da, a) eq graft.eval.FontMetrics.Helvetica)
    // the second document finds the failure's fallback under its content key
    assert(FontLoader.cached(db, b).exists(_ eq graft.eval.FontMetrics.Helvetica))
    assert(FontLoader.load(db, b) eq graft.eval.FontMetrics.Helvetica)
  }

  test("reference corpus: second open re-uses every font (skips when absent)") {
    val p = Paths.get("/root/reference/src/test/resources/input/test24.pdf")
    if (!Files.exists(p)) cancel("reference inputs not present")
    val bytes = Files.readAllBytes(p)
    // prime, then re-open: golden content must be identical through the cache
    val runs1 = PdfDocument.open(bytes).tspanTexts
    val runs2 = PdfDocument.open(bytes).tspanTexts
    assert(runs1 == runs2)
  }
}
