package graft

import graft.core.GlyphRun
import graft.eval.{ContentEvaluator, FontMetrics, FontSpec, FormXObject, PageResources}
import graft.extract.{TextItem, TextItems}
import graft.pdf.PdfDocument
import graft.testgen.{PdfWriter, Synth}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Output pin on the content-stream path: MD5 digests over every field the
  * evaluator and the text-item walker produce, for a fixed list of content
  * streams and synthetic PDFs. A change to the operator reader (`OpReader`),
  * the evaluator's run breaking, the item semantics or whole-PDF page text
  * moves a digest; a refactor of that path must leave all four as they are.
  *
  * The inputs cover same-font `BT Tf Tm Tj ET` stamps (2, 3, 4 and 5 in a
  * row, and a font change), unknown and glued commands, excess and missing
  * operands, `TJ` arrays, inline images, form and image `Do`, `re`,
  * ExtGState fonts, unbalanced `q`/`Q`, and whole PDFs with simple,
  * `/ToUnicode`, composite and ExtGState fonts, forms, images, Flate content
  * and `/Rotate`.
  */
class ContentStreamPinSpec extends AnyFunSuite {

  import ContentStreamPinSpec._

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(x => f"${x & 0xff}%02x").mkString

  /** Fonts F1 (Helvetica), F2 (Courier), F3 (Times-Bold); ExtGState GS1;
    * form Fm1 (its own F1 text) and a self-referencing form Loop; image Im1. */
  private lazy val res: PageResources = new PageResources {
    private val fonts = Map("F1" -> FontMetrics.Helvetica, "F2" -> FontMetrics.Courier)
    def font(name: String): FontSpec = FontMetrics.resolve(name, fonts)
    private val formRes = this
    override def form(name: String): Option[FormXObject] = name match {
      case "Fm1" => Some(FormXObject(
        "BT /F1 8 Tf 0 0 Td (form) Tj ET".getBytes(ISO_8859_1), formRes, Array(1, 0, 0, 1, 20, 30), "Fm1"))
      case "Loop" => Some(FormXObject(
        "BT /F1 8 Tf (loop) Tj ET /Loop Do".getBytes(ISO_8859_1), formRes, Array(1, 0, 0, 1, 0, 10), "Loop"))
      case _ => None
    }
    override def isImage(name: String): Boolean = name == "Im1"
    override def gsFont(name: String): Option[(FontSpec, Double)] =
      if (name == "GS1") Some((FontMetrics.Courier.copy(family = "g_font_GS"), 9.0)) else None
  }

  private def runKey(r: GlyphRun): String =
    Seq(r.text, r.xs.mkString(","), r.y, r.fontFamily, r.fontSize, r.fontStyle,
      r.fontWeight, r.fill, r.matrix.mkString(","), r.page).mkString("|")

  private def itemKey(t: TextItem): String =
    Seq(t.str, t.dir, t.width, t.height, t.fontName).mkString("|")

  private def evalDump(runs: Seq[GlyphRun], errors: Int): String =
    (runs.map(runKey) :+ s"errors=$errors").mkString("\n")

  private def check(name: String, dump: => String, pinned: String): Unit = {
    val d = dump
    assert(md5(d) == pinned, s"$name digest moved; dump:\n$d")
  }

  test("content streams: evaluate (fragment dialect) pin") {
    check("evaluate", streams.map { s =>
      val r = ContentEvaluator.evaluate(bytes(s))
      evalDump(r.runs, r.errors)
    }.mkString("\n--\n"), "7db010f77dd48569fabd625aeae68e63")
  }

  test("content streams: evaluatePage with resources and fake spaces pin") {
    check("evaluatePage", streams.map { s =>
      val r = ContentEvaluator.evaluatePage(bytes(s), res, true)
      evalDump(r.runs, r.errors)
    }.mkString("\n--\n"), "6a2fc65b1ee365ea3883c4ed51055d8d")
  }

  test("content streams: text items pin") {
    check("items", streams.map { s =>
      TextItems.extract(bytes(s), res).map(itemKey).mkString("\n")
    }.mkString("\n--\n"), "3adc4991bfaf4a3cb270d6d590d54370")
  }

  test("synthetic PDFs: page runs, errors, items and document text pin") {
    check("pdfs", pdfs.map { case (name, b) =>
      val doc = PdfDocument.open(b)
      val pages = doc.pages.indices.map { i =>
        val r = doc.evalPage(i)
        Seq(s"page $i", evalDump(r.runs, r.errors),
          doc.textContentItems(i).map(itemKey).mkString("\n")).mkString("\n")
      }
      (s"== $name" +: pages :+ doc.extractText).mkString("\n")
    }.mkString("\n"), "cf7edac7d674964ebda4880d8843eea1")
  }

  test("re with a non-numeric operand: same runs, no longer an error") {
    // re paints no text, so the evaluator never reads its operands: a name
    // among them is not an error (kept apart from the digests above)
    val r = ContentEvaluator.evaluate(bytes("10 20 /x 2 re f BT /F1 10 Tf (t) Tj ET"))
    assert(r.runs.map(_.text) == Vector("t"))
    assert(r.errors == 0)
  }
}

/** The pinned PDFs, shared with the object pin (`ObjectPinSpec`). */
object ContentStreamPinSpec {

  private def bytes(s: String): Array[Byte] = s.getBytes(ISO_8859_1)

  private def stamps(n: Int, font: String = "/F1", size: String = "12"): String =
    (0 until n).map { i =>
      s"BT $font $size Tf 1 0 0 1 ${72 + i * 40} 700 Tm (w$i) Tj ET"
    }.mkString(" ")

  /** The pinned content streams, shared with the text pin (`TextPinSpec`). */
  private[graft] val streams: Seq[String] = Seq(
    // same-font BT Tf Tm Tj ET stamps and a font change
    stamps(2), stamps(3), stamps(4), stamps(3) + " " + stamps(3, font = "/F2"),
    "BT /F1 10 Tf 10 10 Td (pre) Tj ET " + stamps(5) + " BT /F1 10 Tf 10 40 Td (post) Tj ET",
    stamps(3, size = "-12"),
    // unknown and glued commands
    "BT /F1 12 Tf 72 700 Td (a) Tj foo (b) Tj 1 2 bar (c) Tj ET",
    "BT/F1 12 Tf 72 700 Td(glued)Tj 0 -14 Td(x)Tj Tq Q ET",
    "Tq Q BT /F1 12 Tf (after) Tj ET",
    "BT /F1 12 Tf (unterminated Tj NOT_AN_OP 1 2 3 ET",
    // excess and missing operands
    "BT 1 2 3 /F1 12 Tf 9 9 72 700 Td (x) Tj 5 (y) Tj ET",
    "BT 12 Tf 72 Td (y) Tj /F1 Tf (z) Tj 1 0 0 Tm (w) Tj ET",
    "BT /F1 12 Tf 72 700 Td Tj (n) 7 Tj ' (q) \" 1 2 (r) \" ET",
    "BT /F1 12 Tf /Other 1 Td (m) Tj 1 0 0 1 /X 5 Tm (k) Tj ET",
    // TJ arrays
    "BT /F1 12 Tf 72 700 Td [(A) -250 (B) 120 (C) -1200 (D)] TJ ET",
    "BT /F2 10 Tf 72 700 Td [(mono) -3000 (space)] TJ [] TJ [(x) /N (y)] TJ ET",
    "BT /F1 11.9552 Tf 1 0 0 1 91.92 710.04 Tm [(supported b)-6(y a grant)] TJ 0 -13.55 Td (second line) Tj ET",
    // inline images
    "BT /F1 10 Tf (a) Tj BI /W 2 /H 2 ID \u0001\u0002EI  EI (b) Tj ET",
    "q 10 0 0 10 5 5 cm BI /W 1 /H 1 /BPC 1 /IM true ID \u00ff EI Q BT /F1 10 Tf 5 5 Td (after) Tj ET",
    // form and image XObjects
    "BT /F1 10 Tf 10 10 Td (outer) Tj ET q 1 0 0 1 50 50 cm /Fm1 Do Q /Im1 Do /Fm1 Do /Fm1 Do BT (tail) Tj ET",
    "BT /F1 10 Tf 10 10 Td (a) Tj /Fm1 Do (b) Tj ET /Loop Do /Nope Do 5 Do",
    // re
    "q 1 0 0 1 5 7 cm 10 20 100 2 re f Q BT /F1 10 Tf (r) Tj ET",
    // ExtGState fonts
    "BT /GS1 gs (mono) Tj /F1 10 Tf (x) Tj /GS0 gs (y) Tj 3 gs (z) Tj ET",
    // unbalanced q/Q
    "Q Q BT /F1 10 Tf (a) Tj ET q q BT (b) Tj ET Q",
    "Q Q Q ET (orphan) Tj",
    "BT /F1 10 Tf 100 700 Td (a) Tj q 200 0 Td (b) Tj Q (c) Tj ET",
    // text state, colors and the quote operators
    "BT /F1 10 Tf 2 Tc 3 Tw 150 Tz 4 Ts 14 TL 72 700 Td (a b) Tj T* (c) Tj (d) ' 1 0 (e) \" ET",
    "BT /F1 10 Tf 10 -12 TD (one) Tj T* (two) Tj 20 0 Td (three) Tj ET",
    "BT /F1 10 Tf 1 0 0 rg (red) Tj 0.5 g (gray) Tj 0 0 0 1 k (cmyk) Tj /DeviceRGB cs 0 1 0 sc (green) Tj 0.2 scn (h) Tj /P1 scn (pat) Tj ET",
    "2 0 0 2 10 10 cm BT /F3 8 Tf 0 1 -1 0 300 100 Tm (rotated) Tj ET",
    "BT /F1 10 Tf 72 700 Td (A) Tj 5.5 0 Td (B) Tj 30 0 Td (C) Tj 0 -12 Td (D) Tj ET",
    "/MC0 BMC BT /F1 10 Tf /Span << /ActualText (x) >> BDC (marked) Tj EMC ET EMC")

  private[graft] val hebrewCMap =
    """/CIDInit /ProcSet findresource begin
      |begincmap
      |1 begincodespacerange <00> <ff> endcodespacerange
      |4 beginbfchar
      |<A0> <05D0>
      |<A1> <05D1>
      |<A2> <05D2>
      |<A3> <05D3>
      |endbfchar
      |endcmap""".stripMargin

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    d.setInput(b); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
    d.end()
    out.toByteArray
  }

  /** Two pages: page 1 with simple, ToUnicode and ExtGState fonts, a form,
    * an image and an inline image; page 2 rotated 90 with Flate content. */
  private def mixedPdf: Array[Byte] = {
    val page1 =
      "BT /F1 12 Tf 72 720 Td (Hello world) Tj 0 -16 Td [(Kern)-300(ed)] TJ ET " +
        "BT /F3 12 Tf 72 680 Td (\u00a0\u00a1\u00a2\u00a3 \u00a0\u00a1) Tj ET " +
        "BT /GS1 gs 72 660 Td (via gs) Tj ET " +
        "q 1 0 0 1 0 -100 cm /Fm1 Do Q /Im1 Do 10 10 50 50 re f " +
        "q 4 0 0 4 300 300 cm BI /W 1 /H 1 /BPC 8 /CS /G ID \u0080 EI Q " +
        "BT /F2 10 Tf 72 500 Td (mono line) Tj ' (next) Tj ET"
    val page2 = "BT /F1 12 Tf 50 700 Td (first) Tj 70 0 Td (second) Tj 0 -20 Td (third) Tj ET"
    PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources 5 0 R /Contents 6 0 R >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Rotate 90 /Resources 5 0 R /Contents 7 0 R >>",
      "<< /Font << /F1 8 0 R /F2 9 0 R /F3 10 0 R >> /ExtGState << /GS1 << /Font [9 0 R 9] >> >> " +
        "/XObject << /Fm1 12 0 R /Im1 13 0 R >> >>",
      PdfWriter.stream("", bytes(page1)),
      PdfWriter.stream("/Filter /FlateDecode", deflate(bytes(page2))),
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Times-Bold /ToUnicode 11 0 R >>",
      PdfWriter.stream("", bytes(hebrewCMap)),
      PdfWriter.stream("/Type /XObject /Subtype /Form /Matrix [1 0 0 1 10 0] " +
        "/Resources << /Font << /F1 8 0 R >> >>", bytes("BT /F1 9 Tf 72 700 Td (in form) Tj ET")),
      PdfWriter.stream("/Type /XObject /Subtype /Image /Width 1 /Height 1 " +
        "/ColorSpace /DeviceGray /BitsPerComponent 8", Array[Byte](0x7f))))
  }

  /** Type0 Identity-H font with /W widths and a two-byte /ToUnicode. */
  private def compositePdf: Array[Byte] = {
    val cmap =
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
    PdfWriter(Seq(
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
      PdfWriter.stream("", bytes(cmap)),
      PdfWriter.stream("", bytes(
        "BT /F1 12 Tf 72 720 Td <000100020001> Tj 0 -20 Td [<000A> -500 <000B000C>] TJ ET"))))
  }

  private[graft] lazy val pdfs: Seq[(String, Array[Byte])] = Seq(
    "mixed" -> mixedPdf,
    "composite" -> compositePdf,
    "whitespace" -> Synth.pdfWithWhitespaceText(),
    "attachments" -> Synth.pdfWithAttachments(),
    "labels" -> Synth.pdfWithCatalogExtra(2, "/PageLabels << /Nums [0 << /S /r >>] >>"))
}
