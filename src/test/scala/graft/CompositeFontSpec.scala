package graft

import graft.pdf.{FontLoader, PdfDocument, PdfFile}
import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Composite (Type0/Identity-H) font path: two-byte charcodes, CID widths from
  * /DW + /W, text from a 2-byte-keyed /ToUnicode CMap (SURVEY.md §2.5 F3/F4
  * multi-byte path; charsToGlyphs pdf.combined.js:36697-36714). The synthetic
  * PDF has no usable xref (PdfWriter), so the document also exercises the S6
  * recovery scan (XRef.indexObjects discipline).
  */
class CompositeFontSpec extends AnyFunSuite {

  import CompositeFontSpec._

  test("Identity-H composite font: 2-byte charcodes, CID widths, ToUnicode text") {
    val doc = PdfDocument.open(pdfBytes)
    assert(doc.pages.length == 1)
    val runs = doc.evalPage(0).runs
    assert(runs.map(_.text) == Vector("你好你", "ABC"))
    // x-advances from /W: cid 1 -> 500, cid 2 -> 600, at 12pt
    val r0 = runs(0)
    assert(r0.xs.length == 3)
    assert(math.abs(r0.xs(1) - (r0.xs(0) + 500 * 12 / 1000.0)) < 1e-9)
    assert(math.abs(r0.xs(2) - (r0.xs(1) + 600 * 12 / 1000.0)) < 1e-9)
    // bfrange run: cids 10..12 -> A..C at the /W range width 750
    val r1 = runs(1)
    assert(math.abs(r1.xs(1) - (r1.xs(0) + 750 * 12 / 1000.0)) < 1e-9)
  }

  test("default width /DW applies to unlisted CIDs") {
    // show cid 0x0005 (not in /W) — advance must be DW=1000
    val alt = new String(pdfBytes, ISO_8859_1)
      .replace("<000100020001>", "<00050005>")
    val doc = PdfDocument.open(alt.getBytes(ISO_8859_1))
    val r = doc.evalPage(0).runs.head
    assert(math.abs(r.xs(1) - (r.xs(0) + 12.0)) < 1e-9) // 1000 * 12 / 1000
  }

  test("Identity-V vertical writing: pen advances down, SVG-backend semantics") {
    // The tspan surface follows the vendored SVG backend exactly
    // (pdf.combined.js:20324-20356): the per-glyph loop is the same as
    // horizontal (glyph widths from /W, advancing xcoords), and at the end of
    // the show the pen moves in y instead of x: current.y -= x*textHScale.
    // /W2 vmetrics are parsed (FontLoader) but the SVG path never reads them —
    // they are a canvas/text-content behavior.
    val vert = new String(pdfBytes, ISO_8859_1)
      .replace("/Encoding /Identity-H", "/Encoding /Identity-V")
      .replace("/DW 1000 /W [1 [500 600] 10 12 750] >>",
        "/DW 1000 /W [1 [500 600] 10 12 750] /DW2 [880 -1000] /W2 [1 [-800 250 880]] >>")
      .replace("<000A000B000C> Tj ET", "<000A000B000C> Tj 0.5 g <0001> Tj ET")
    val doc = PdfDocument.open(vert.getBytes(ISO_8859_1))
    val runs = doc.evalPage(0).runs
    assert(runs.map(_.text) == Vector("你好你", "ABC", "你"))
    val r0 = runs(0)
    // xcoords advance horizontally exactly as in the Identity-H case
    assert(r0.xs.toSeq == Seq(72.0, 78.0, 85.2).map(v => math.round(v * 1e9) / 1e9)
      || (math.abs(r0.xs(0) - 72) < 1e-9 && math.abs(r0.xs(1) - 78) < 1e-9 && math.abs(r0.xs(2) - 85.2) < 1e-9))
    // pen: y -= (500+600+500)*0.012 = 19.2; tspan y is set AFTER the advance
    assert(math.abs(r0.y - -(720 - 19.2)) < 1e-9, s"r0.y=${r0.y}")
    // x never advances across shows in vertical mode
    val r1 = runs(1)
    assert(math.abs(r1.xs(0) - 72.0) < 1e-9)
    // Td is line-relative: 720-20 = 700; ABC advance 3*750*0.012 = 27 down
    assert(math.abs(r1.y - -(700 - 27)) < 1e-9, s"r1.y=${r1.y}")
    // a show after a fill-only break continues from the advanced pen
    val r2 = runs(2)
    assert(math.abs(r2.xs(0) - 72.0) < 1e-9)
    assert(math.abs(r2.y - -(700 - 27 - 6)) < 1e-9, s"r2.y=${r2.y}")
  }

  test("/W2 vmetrics parse onto FontSpec (canvas/text-content consumers)") {
    val vert = new String(pdfBytes, ISO_8859_1)
      .replace("/Encoding /Identity-H", "/Encoding /Identity-V")
      .replace("/DW 1000 /W [1 [500 600] 10 12 750] >>",
        "/DW 1000 /W [1 [500 600] 10 12 750] /DW2 [880 -1000] /W2 [1 [-800 250 880] 5 9 -900 300 880] >>")
    val doc = PdfDocument.open(vert.getBytes(ISO_8859_1))
    val font = doc.evalPage(0).runs.headOption.map(_ => ()) // force eval
    val _ = font
    val f = new PdfFile(vert.getBytes(ISO_8859_1))
    val spec = FontLoader.load(f.resolve(graft.pdf.PObj.PRef(4, 0)).asInstanceOf[graft.pdf.PObj.PDict], f)
    assert(spec.vertical)
    assert(spec.vmetrics(1).toSeq == Seq(-800.0, 250.0, 880.0)) // explicit triple
    assert(spec.vmetrics(7).toSeq == Seq(-900.0, 300.0, 880.0)) // range form
    assert(spec.vmetrics(2).toSeq == Seq(-1000.0, 300.0, 880.0)) // DW2 default, vx = width/2
  }

  test("embedded CID CMap: codes map through cidrange/cidchar to /W widths") {
    val doc = PdfDocument.open(cjkPdfBytes)
    val runs = doc.evalPage(0).runs
    assert(runs.map(_.text) == Vector("\u4e2d\u4e8b\u3042"))
    val xs = runs(0).xs.toSeq
    // CID widths drive the advance: 72, +950*0.012 = 83.4, +900*0.012 = 94.2
    assert(math.abs(xs(0) - 72.0) < 1e-9)
    assert(math.abs(xs(1) - 83.4) < 1e-9, s"xs=$xs")
    assert(math.abs(xs(2) - 94.2) < 1e-9, s"xs=$xs")
    // the text-content item surface agrees (cross-validated against the
    // vendored engine's getTextContent under node on these exact bytes)
    val items = doc.textContentItems(0)
    assert(items.map(_.str) == Vector("\u4e2d\u4e8b\u3042"))
  }

  test("CidCMap parser: ranges, chars, WMode, identity usecmap fallback") {
    val p = graft.pdf.CidCMap.parse(cidCMapStream.getBytes(ISO_8859_1))
    assert(p.cid(0x4E00) == 100 && p.cid(0x4EFF) == 100 + 0xFF)
    assert(p.cid(0x3041) == 500 && p.cid(0x3096) == 500 + 0x55)
    assert(p.cid(0x0020) == 1)
    assert(p.cid(0x9999) == 0) // unmapped, no identity base -> .notdef
    assert(p.wmode == 0 && p.codeBytes == 2)
    val vertical = cidCMapStream
      .replace("begincmap", "begincmap\n/WMode 1 def\n/Identity-H usecmap")
    val pv = graft.pdf.CidCMap.parse(vertical.getBytes(ISO_8859_1))
    assert(pv.wmode == 1)
    assert(pv.cid(0x9999) == 0x9999) // identity base covers unmapped codes
  }

  test("CidCMap tolerates malformed entries without losing the rest") {
    val broken = cidCMapStream.replace(
      "1 begincidchar\n<0020> 1\nendcidchar",
      "3 begincidchar\n<0020> 1\n<0021> 99999999999999999999\n<00220022FFAA99> 7\nendcidchar")
    val p = graft.pdf.CidCMap.parse(broken.getBytes(ISO_8859_1))
    assert(p.cid(0x0020) == 1) // the good entry survives
    assert(p.cid(0x4E00) == 100) // ranges unaffected
    assert(p.cid(0x0021) == 0) // over-range CID skipped, not thrown
  }

  test("vertical text-content items advance by /W2 vmetrics") {
    val vert = new String(pdfBytes, ISO_8859_1)
      .replace("/Encoding /Identity-H", "/Encoding /Identity-V")
      .replace("/DW 1000 /W [1 [500 600] 10 12 750] >>",
        "/DW 1000 /W [1 [500 600] 10 12 750] /DW2 [880 -1000] /W2 [1 [-800 250 880]] >>")
    val doc = PdfDocument.open(vert.getBytes(ISO_8859_1))
    val items = doc.textContentItems(0)
    assert(items.nonEmpty)
    val first = items.head
    // vertical same-line test keys on tx == 0, so the Td(0,-20) MERGES the
    // two shows into one item (reference semantics; advance 20 < 4\u00b7sw 48)
    // the Td-merge diff (tx\u2212lastAdvW)\u2212(ty\u2212lastAdvH) = 0\u2212(\u221220+12) = 8 sits
    // in [0.3\u00b7sw, 1.5\u00b7sw) \u2192 exactly one bridged fake space
    assert(first.str == "\u4f60\u597d\u4f60 ABC")
    // heights (reference semantics: only EXPLICIT /W2 entries use the
    // vmetric; default-vmetric codes advance by the horizontal width):
    // \u4f60(-800 W2) + \u597d(horizontal 600) + \u4f60 at size 12 = |-12|; the merge
    // adds ty - lastAdvanceHeight = -20 + 12 = -8; ABC (horizontal 750)
    // adds |27|
    assert(math.abs(first.height - 31.0) < 1e-6, s"height=${first.height}")
  }
}

/** The spec's documents and CMap streams, shared with the object and CMap
  * pins (`ObjectPinSpec`). */
object CompositeFontSpec {

  private[graft] val toUnicodeCMap =
    """/CIDInit /ProcSet findresource begin
      |begincmap
      |2 beginbfchar
      |<0001> <4F60>
      |<0002> <597D>
      |endbfchar
      |1 beginbfrange
      |<000A> <000C> <0041>
      |endbfrange
      |endcmap
      |end""".stripMargin

  private[graft] val content =
    "BT /F1 12 Tf 72 720 Td <000100020001> Tj 0 -20 Td <000A000B000C> Tj ET"

  private[graft] def pdfBytes: Array[Byte] = PdfWriter(Seq(
    "<< /Type /Catalog /Pages 2 0 R >>",
    "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 4 0 R >> >> /Contents 8 0 R >>",
    "<< /Type /Font /Subtype /Type0 /BaseFont /TestCID " +
      "/Encoding /Identity-H /DescendantFonts [5 0 R] /ToUnicode 7 0 R >>",
    "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /TestCID " +
      "/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) /Supplement 0 >> " +
      "/FontDescriptor 6 0 R /DW 1000 /W [1 [500 600] 10 12 750] >>",
    "<< /Type /FontDescriptor /FontName /TestCID /Flags 4 " +
      "/FontBBox [0 0 1000 1000] /ItalicAngle 0 /Ascent 800 /Descent -200 " +
      "/CapHeight 700 /StemV 80 >>",
    PdfWriter.stream("", toUnicodeCMap.getBytes(ISO_8859_1)),
    PdfWriter.stream("", content.getBytes(ISO_8859_1))))

  // ── embedded CID CMap (round 5): the CJK shape — codes ≠ CIDs ─────────────

  private[graft] val cidCMapStream =
    """%!PS-Adobe-3.0 Resource-CMap
      |/CIDInit /ProcSet findresource begin
      |12 dict begin
      |begincmap
      |/CIDSystemInfo << /Registry (Test) /Ordering (CJK) /Supplement 0 >> def
      |/CMapName /Test-CJK-H def
      |/CMapType 1 def
      |1 begincodespacerange
      |<0000> <FFFF>
      |endcodespacerange
      |2 begincidrange
      |<4E00> <4EFF> 100
      |<3041> <3096> 500
      |endcidrange
      |1 begincidchar
      |<0020> 1
      |endcidchar
      |endcmap
      |CMapName currentdict /CMap defineresource pop
      |end
      |end""".stripMargin

  private[graft] val cjkToUnicode =
    """/CIDInit /ProcSet findresource begin
      |begincmap
      |1 beginbfrange
      |<4E00> <4EFF> <4E00>
      |endbfrange
      |1 beginbfchar
      |<3042> <3042>
      |endbfchar
      |endcmap
      |end""".stripMargin

  private[graft] def cjkPdfBytes: Array[Byte] = PdfWriter(Seq(
    "<< /Type /Catalog /Pages 2 0 R >>",
    "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /Font << /F1 4 0 R >> >> /Contents 8 0 R >>",
    "<< /Type /Font /Subtype /Type0 /BaseFont /TestCJK " +
      "/Encoding 9 0 R /DescendantFonts [5 0 R] /ToUnicode 7 0 R >>",
    // /W keyed by the MAPPED CIDs: 4E2D→145, 4E8B→239, 3042→501
    "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /TestCJK " +
      "/CIDSystemInfo << /Registry (Test) /Ordering (CJK) /Supplement 0 >> " +
      "/FontDescriptor 6 0 R /DW 1000 /W [145 [950] 239 [900] 501 [880]] >>",
    "<< /Type /FontDescriptor /FontName /TestCJK /Flags 4 " +
      "/FontBBox [0 0 1000 1000] /ItalicAngle 0 /Ascent 800 /Descent -200 " +
      "/CapHeight 700 /StemV 80 >>",
    PdfWriter.stream("", cjkToUnicode.getBytes(ISO_8859_1)),
    PdfWriter.stream("", "BT /F1 12 Tf 72 720 Td <4E2D4E8B3042> Tj ET".getBytes(ISO_8859_1)),
    PdfWriter.stream("", cidCMapStream.getBytes(ISO_8859_1))))
}
