package graft.pdf

import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Named color spaces for text fill (SURVEY.md §2.2 E5): /Indexed,
  * /Separation, /ICCBased, /DeviceN resolved from the page's /ColorSpace
  * resources; fill changes are run breaks (G10), so wrong fills merge or
  * split tspans.
  */
class ColorSpaceSpec extends AnyFunSuite {

  /** One-page doc whose /ColorSpace dict maps /CS0 to `csBody` (plus any
    * `extraObjs`, numbered from 5), content exercising `cs`/`scn`. */
  private def doc(csBody: String, content: String,
      extraObjs: Seq[PdfWriter.Body] = Nil): PdfDocument =
    PdfDocument.open(PdfWriter(Seq[PdfWriter.Body](
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /ColorSpace << /CS0 $csBody >> >> /Contents 4 0 R >>",
      PdfWriter.stream("", content.getBytes(ISO_8859_1))) ++ extraObjs))

  test("Indexed over DeviceRGB: scn index dereferences the lookup table") {
    // lookup: idx0 = red (ff 00 00), idx1 = blue (00 00 ff)
    val cs = "[/Indexed /DeviceRGB 1 <FF0000 0000FF>]"
    val content = "BT /F1 10 Tf /CS0 cs 0 scn 10 700 Td (red) Tj 1 scn (blue) Tj ET"
    val runs = doc(cs, content).evalPage(0).runs
    assert(runs.map(r => (r.text, r.fill)) ==
      Vector(("red", "rgb(255,0,0)"), ("blue", "rgb(0,0,255)")))
  }

  test("Separation: tint → gray (1−t); distinct tints stay distinct runs") {
    val cs = "[/Separation /PANTONE /DeviceRGB 5 0 R]"
    val content = "BT /F1 10 Tf /CS0 cs 0.25 scn 10 700 Td (a) Tj 1 scn (b) Tj ET"
    val d = doc(cs, content, Seq("<< /FunctionType 2 /Domain [0 1] >>"))
    val runs = d.evalPage(0).runs
    assert(runs.map(_.fill) == Vector("rgb(191,191,191)", "rgb(0,0,0)"))
    assert(runs.length == 2) // fill change broke the run
  }

  test("ICCBased: /N selects gray / RGB / CMYK semantics") {
    val cs = "[/ICCBased 5 0 R]"
    val icc = Seq(PdfWriter.stream("/N 3", Array.emptyByteArray))
    val content = "BT /F1 10 Tf /CS0 cs 1 0 0 scn 10 700 Td (r) Tj ET"
    val runs = doc(cs, content, icc).evalPage(0).runs
    assert(runs.map(_.fill) == Vector("rgb(255,0,0)"))
  }

  test("DeviceN: mean tint → gray") {
    val cs = "[/DeviceN [/Cyan /Magenta] /DeviceCMYK 5 0 R]"
    val content = "BT /F1 10 Tf /CS0 cs 1 1 scn 10 700 Td (x) Tj ET"
    val d = doc(cs, content, Seq("<< /FunctionType 2 >>"))
    assert(d.evalPage(0).runs.map(_.fill) == Vector("rgb(0,0,0)"))
  }

  test("cs with a device name needs no resource lookup; heuristic still covers bare sc") {
    val content = "BT /F1 10 Tf /DeviceRGB cs 0 1 0 scn 10 700 Td (g) Tj " +
      "0.5 0.5 0.5 sc (h) Tj ET"
    // note: after `cs /DeviceRGB`, the 3-component sc also goes through RGB
    val runs = doc("/DeviceGray", content).evalPage(0).runs
    assert(runs.map(_.fill) == Vector("rgb(0,255,0)", "rgb(128,128,128)"))
  }

  test("g/rg/k reset the fill color space (stale /Indexed must not misread sc)") {
    // reference sets fillColorSpace on the device color ops
    // (pdf.combined.js:45762-45785): after '0 g' the space is DeviceGray, so
    // '1 sc' means white — not index 1 of the earlier /Indexed palette
    val cs = "[/Indexed /DeviceRGB 1 <FF0000 0000FF>]"
    val content = "BT /F1 10 Tf /CS0 cs 0 scn 10 700 Td (red) Tj " +
      "0 g (black) Tj 1 sc (white) Tj ET"
    val runs = doc(cs, content).evalPage(0).runs
    assert(runs.map(_.fill) ==
      Vector("rgb(255,0,0)", "rgb(0,0,0)", "rgb(255,255,255)"), runs.map(_.fill))
  }

  test("unknown space name: scn falls back to the component-count heuristic") {
    val content = "BT /F1 10 Tf /NoSuch cs 1 0 0 scn 10 700 Td (t) Tj ET"
    val runs = doc("/DeviceGray", content).evalPage(0).runs
    assert(runs.map(_.fill) == Vector("rgb(255,0,0)"))
  }

  test("Lab endpoints: L=100 is white, L=0 is black (D50, reference LabCS math)") {
    val cs = "[/Lab << /WhitePoint [0.9642 1 0.8249] /Range [-128 127 -128 127] >>]"
    val content = "BT /F1 10 Tf /CS0 cs 100 0 0 scn 10 700 Td (w) Tj 0 0 0 scn (k) Tj ET"
    val runs = doc(cs, content).evalPage(0).runs
    // L=100 → XYZ = whitepoint; the reference's D50 matrix rows sum to
    // 1.0000104 / 0.9999995 / 0.9999993, and its `sqrt(x)*255|0` truncation
    // lands g and b at 254 — these are the reference CLI's exact integers,
    // not a rounding artifact of ours
    assert(runs.map(_.fill) == Vector("rgb(255,254,254)", "rgb(0,0,0)"), runs.map(_.fill))
  }

  test("Lab neutral axis (a=b=0) stays achromatic; chroma breaks away from it") {
    val cs = "[/Lab << /WhitePoint [0.9642 1 0.8249] >>]"
    val content = "BT /F1 10 Tf /CS0 cs 50 0 0 scn 10 700 Td (gray) Tj 50 60 -40 scn (pink) Tj ET"
    val runs = doc(cs, content).evalPage(0).runs
    val chans = runs.map(_.fill).map { f =>
      f.stripPrefix("rgb(").stripSuffix(")").split(',').map(_.toInt)
    }
    assert(chans(0).max - chans(0).min <= 1, runs(0).fill) // neutral within quantization
    assert(chans(1).max - chans(1).min > 40, runs(1).fill) // strongly chromatic
    assert(runs.length == 2) // fill change broke the run
  }

  test("Lab /Range clamps a*/b* operands before conversion") {
    // range [-10 10]: a=60 clamps to 10, so the fill equals the a=10 fill
    val cs = "[/Lab << /WhitePoint [0.9642 1 0.8249] /Range [-10 10 -10 10] >>]"
    val c1 = "BT /F1 10 Tf /CS0 cs 50 60 0 scn 10 700 Td (x) Tj ET"
    val c2 = "BT /F1 10 Tf /CS0 cs 50 10 0 scn 10 700 Td (x) Tj ET"
    assert(doc(cs, c1).evalPage(0).runs.map(_.fill) ==
      doc(cs, c2).evalPage(0).runs.map(_.fill))
  }
}
