package graft.pdf

import graft.testgen.{PdfWriter, Synth}
import org.scalatest.funsuite.AnyFunSuite

/** Catalog /PageLabels number tree → per-page display labels, mirroring the
  * reference's Catalog.pageLabels (pdf.combined.js:42749-42828): range
  * dictionaries restart numbering, style D/R/r/A/a synthesis, /P prefixes,
  * the `|| 1` zero-start quirk, empty labels before the first range, and
  * the all-or-nothing error discipline (any malformed entry → None, never a
  * partial array). */
class PageLabelsSpec extends AnyFunSuite {

  private def labels(nPages: Int, body: String, extra: Seq[PdfWriter.Body] = Nil) =
    PdfDocument.open(Synth.pdfWithCatalogExtra(nPages, s"/PageLabels $body", extra)).pageLabels

  test("mixed roman front matter + decimal body + prefixed appendix") {
    // the canonical real-world shape: i, ii, 1, 2, 3, A-1, A-2
    val got = labels(7,
      "<< /Nums [0 << /S /r >> 2 << /S /D >> 5 << /S /D /P (A-) >>] >>")
    assert(got.contains(Vector("i", "ii", "1", "2", "3", "A-1", "A-2")))
  }

  test("pages before the first range get empty labels") {
    val got = labels(4, "<< /Nums [2 << /S /D /St 9 >>] >>")
    assert(got.contains(Vector("", "", "9", "10")))
  }

  test("letter styles double past Z; upper and lower variants") {
    val got = labels(3, "<< /Nums [0 << /S /A /St 26 >>] >>")
    assert(got.contains(Vector("Z", "AA", "BB")))
    val lower = labels(2, "<< /Nums [0 << /S /a >>] >>")
    assert(lower.contains(Vector("a", "b")))
  }

  test("roman numerals match Util.toRoman (incl. M-thousands and subtractives)") {
    val got = labels(3, "<< /Nums [0 << /S /R /St 1492 >>] >>")
    assert(got.contains(Vector("MCDXCII", "MCDXCIII", "MCDXCIV")))
    val low = labels(2, "<< /Nums [0 << /S /r /St 4 >>] >>")
    assert(low.contains(Vector("iv", "v")))
  }

  test("/St 0 falls back to 1 (the reference's `|| 1`); prefix-only ranges") {
    assert(labels(2, "<< /Nums [0 << /S /D /St 0 >>] >>")
      .contains(Vector("1", "2")))
    // no /S: label is the prefix alone, numbering still advances silently
    assert(labels(2, "<< /Nums [0 << /P (Cover) >>] >>")
      .contains(Vector("Cover", "Cover")))
  }

  test("number tree with /Kids leaves walks; duplicate kid ref aborts") {
    // root -> two leaf kids (objects appended after the 3 page objects)
    val got = labels(4, "<< /Kids [7 0 R 8 0 R] >>", Seq(
      "<< /Limits [0 1] /Nums [0 << /S /r >>] >>",
      "<< /Limits [2 3] /Nums [2 << /S /D >>] >>"))
    assert(got.contains(Vector("i", "ii", "1", "2")))
    // the same kid twice is the reference's duplicate-entry assert → null
    assert(labels(2, "<< /Kids [5 0 R 5 0 R] >>",
      Seq("<< /Nums [0 << /S /D >>] >>")).isEmpty)
  }

  test("malformed entries abandon the whole surface (reference warn → null)") {
    // unknown style name
    assert(labels(2, "<< /Nums [0 << /S /Q >>] >>").isEmpty)
    // style as a string, not a name
    assert(labels(2, "<< /Nums [0 << /S (D) >>] >>").isEmpty)
    // prefix as a number
    assert(labels(2, "<< /Nums [0 << /S /D /P 7 >>] >>").isEmpty)
    // non-integer start
    assert(labels(2, "<< /Nums [0 << /S /D /St 2.5 >>] >>").isEmpty)
    // label value is not a dictionary
    assert(labels(2, "<< /Nums [0 (oops)] >>").isEmpty)
    // wrong /Type
    assert(labels(2, "<< /Nums [0 << /Type /NotALabel /S /D >>] >>").isEmpty)
    // roman style with a negative start (Util.toRoman asserts > 0)
    assert(labels(2, "<< /Nums [0 << /S /R /St -2 >>] >>").isEmpty)
  }

  test("decimal style carries negative starts like the reference") {
    // JS concatenates the raw number: -2, -1, 0, 1
    val got = labels(4, "<< /Nums [0 << /S /D /St -2 >>] >>")
    assert(got.contains(Vector("-2", "-1", "0", "1")))
  }

  test("absent /PageLabels → None; corpus labels pinned") {
    val plain = Synth.pdfWithCatalogExtra(2, "/PageLabels << /Nums [] >>")
    // builder always embeds the key; empty Nums = all-empty labels
    assert(PdfDocument.open(plain).pageLabels.contains(Vector("", "")))
    // two corpus papers carry REAL decimal label trees (test24 routes the
    // range dict through an indirect ref; 2839 lives behind an incremental
    // update), the other three have no /PageLabels
    val expect = Map(
      "1301.4293.pdf" -> None, "C04-1204.pdf" -> None, "test25.pdf" -> None,
      "test24.pdf" -> Some((1 to 12).map(_.toString).toVector),
      "2839.pdf" -> Some((1 to 6).map(_.toString).toVector))
    for (d <- Seq("/root/reference/src/test/resources/input",
                  "/root/reference/test-papers")) {
      val dir = new java.io.File(d)
      if (dir.isDirectory) {
        dir.listFiles().filter(_.getName.endsWith(".pdf")).foreach { f =>
          val doc = PdfDocument.open(java.nio.file.Files.readAllBytes(f.toPath))
          assert(doc.pageLabels == expect(f.getName), f.getName)
        }
      }
    }
  }
}
