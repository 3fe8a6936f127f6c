package graft

import graft.pdf.PdfDocument
import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** R8 styles-map parity against the reference's AUTHENTIC getTextContent
  * output: src/test/resources/reference-*-styles.json was produced by the
  * vendored engine itself under node — ONE process iterating every page of
  * each corpus PDF sequentially (doc-cumulative font ids, the shape a real
  * sequential getPage consumer observes), dumping per-page item fontNames
  * and the styles dict. Our per-item `fontName` and per-page styles
  * (fontFamily / ascent / descent) must match entry for entry on all 30
  * pages: sequential `g_d0_f<id>` ids for descriptor-bearing fonts,
  * `num_gen` ids for descriptor-less Type3s, std-mapped name overrides for
  * missing-file fonts, hhea/unitsPerEm metrics for embedded TrueType
  * programs, and the monospace width-equality heuristic. */
class StylesParitySpec extends AnyFunSuite {

  private case class PageFx(page: Int, fontNames: Vector[String],
      styles: Vector[(String, String, Double, Double, Option[Boolean])])

  /** Minimal parse of the fixture's flat JSON.stringify shape (no JSON
    * dependency in this build; names/families are \w- only, numbers are
    * plain decimals or null). */
  private def parseFixture(json: String): Vector[PageFx] = {
    val pageRe = java.util.regex.Pattern.compile(
      "\\{\"page\":(\\d+),\"fontNames\":\\[(.*?)\\],\"styles\":\\{(.*?)\\}\\}")
    val nameRe = java.util.regex.Pattern.compile("\"([^\"]*)\"")
    val styleRe = java.util.regex.Pattern.compile(
      "\"([^\"]+)\":\\{\"fontFamily\":\"([a-z-]+)\",\"ascent\":([-0-9.eE]+|null)," +
        "\"descent\":([-0-9.eE]+|null)(,\"vertical\":(true|false))?\\}?")
    def num(s: String): Double = if (s == "null") Double.NaN else s.toDouble
    val out = Vector.newBuilder[PageFx]
    val m = pageRe.matcher(json)
    while (m.find()) {
      val names = {
        val b = Vector.newBuilder[String]
        val nm = nameRe.matcher(m.group(2))
        while (nm.find()) b += nm.group(1)
        b.result()
      }
      val styles = {
        val b = Vector.newBuilder[(String, String, Double, Double, Option[Boolean])]
        val sm = styleRe.matcher(m.group(3))
        while (sm.find()) b += ((sm.group(1), sm.group(2), num(sm.group(3)),
          num(sm.group(4)), Option(sm.group(6)).map(_.toBoolean)))
        b.result()
      }
      out += PageFx(m.group(1).toInt, names, styles)
    }
    out.result()
  }

  private def eqNum(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-12

  test("all four reference PDFs, every page: fontName + styles parity with getTextContent") {
    var pagesChecked = 0
    Seq("1301.4293", "C04-1204", "test24", "test25").foreach { name =>
      val pp = Paths.get(s"/root/reference/src/test/resources/input/$name.pdf")
      if (!Files.exists(pp)) cancel(s"reference PDF not present for $name")
      val fx = parseFixture(new String(
        Files.readAllBytes(Paths.get(s"src/test/resources/reference-$name-styles.json")),
        StandardCharsets.UTF_8))
      assert(fx.nonEmpty, s"$name fixture parse")
      val doc = PdfDocument.open(Files.readAllBytes(pp))
      assert(doc.pages.length == fx.length, s"$name page count")
      fx.foreach { pf =>
        val (items, styles) = doc.textContentItemsWithStyles(pf.page - 1)
        assert(items.length == pf.fontNames.length, s"$name p${pf.page} item count")
        items.zip(pf.fontNames).zipWithIndex.foreach { case ((it, expect), i) =>
          assert(it.fontName == expect, s"$name p${pf.page} item $i fontName")
        }
        assert(styles.map(_._1) == pf.styles.map(_._1),
          s"$name p${pf.page} style keys/order: ${styles.map(_._1)} vs ${pf.styles.map(_._1)}")
        styles.zip(pf.styles).foreach { case ((k, st), (ek, efam, easc, edesc, evert)) =>
          assert(k == ek)
          assert(st.fontFamily == efam, s"$name p${pf.page} style $k family")
          assert(eqNum(st.ascent, easc), s"$name p${pf.page} style $k ascent ${st.ascent} vs $easc")
          assert(eqNum(st.descent, edesc), s"$name p${pf.page} style $k descent ${st.descent} vs $edesc")
          assert(st.vertical == evert, s"$name p${pf.page} style $k vertical")
        }
        pagesChecked += 1
      }
    }
    assert(pagesChecked == 30)
  }

  test("loadedName rules: std override, Type3 num_gen id, sequential descriptor ids") {
    // each rule by how its font is built; ids are document state, so the
    // pages are read in order
    val prog = "%!PS-AdobeFont-1.0: Test 001.000\n".getBytes(StandardCharsets.ISO_8859_1)
    def embedded(name: String, desc: Int) =
      s"<< /Type /Font /Subtype /Type1 /BaseFont /$name /FirstChar 97 /LastChar 99 " +
        s"/Widths [500 500 500] /FontDescriptor $desc 0 R >>"
    def descriptor(name: String, file: Int) =
      s"<< /Type /FontDescriptor /FontName /$name /Flags 32 /FontFile $file 0 R >>"
    def page(fonts: String, content: Int) =
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /Font << $fonts >> >> /Contents $content 0 R >>"
    def content(s: String) = PdfWriter.stream("", s.getBytes(StandardCharsets.ISO_8859_1))
    val doc = PdfDocument.open(PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R 4 0 R 5 0 R] /Count 3 >>",
      page("/FA 9 0 R /FB 12 0 R /FC 15 0 R", 6),
      page("/TR 18 0 R /CO 20 0 R", 7),
      page("/T3 21 0 R", 8),
      // first use is FB, FA, FC: ids follow use, not object or name order
      content("BT /FB 12 Tf 72 700 Td (b) Tj /FA 12 Tf (a) Tj /FC 12 Tf (c) Tj ET"),
      content("BT /TR 12 Tf 72 700 Td (t) Tj /CO 12 Tf (c) Tj ET"),
      content("BT /T3 12 Tf 72 700 Td (A) Tj ET"),
      // three embedded fonts, each with its own descriptor (objects 9-17)
      embedded("TestA", 10), descriptor("TestA", 11), PdfWriter.stream("", prog),
      embedded("TestB", 13), descriptor("TestB", 14), PdfWriter.stream("", prog),
      embedded("TestC", 16), descriptor("TestC", 17), PdfWriter.stream("", prog),
      // non-embedded Times with a descriptor, Courier without one
      "<< /Type /Font /Subtype /Type1 /BaseFont /Times-Roman /FontDescriptor 19 0 R >>",
      "<< /Type /FontDescriptor /FontName /Times-Roman /Flags 34 >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
      // an indirect Type3 font without a descriptor (object 21)
      "<< /Type /Font /Subtype /Type3 /FontBBox [0 0 1000 1000] " +
        "/FontMatrix [0.001 0 0 0.001 0 0] /CharProcs << /A 22 0 R >> " +
        "/Encoding << /Type /Encoding /Differences [65 /A] >> " +
        "/FirstChar 65 /LastChar 65 /Widths [1000] >>",
      content("1000 0 d0"))))
    def names(page: Int) = {
      val (items, styles) = doc.textContentItemsWithStyles(page)
      assert(items.map(_.fontName).distinct == styles.map(_._1), s"page $page")
      styles.map(_._1)
    }
    assert(names(0) == Vector("g_d0_f1", "g_d0_f2", "g_d0_f3")) // sequential descriptor ids
    assert(names(1) == Vector("Times", "Courier")) // missing-file overrides
    assert(names(2) == Vector("g_d0_f21_0")) // descriptor-less Type3: num_gen
  }

  test("loadedName rules on the reference corpus: C04-1204 and test24") {
    val c04Path = Paths.get("/root/reference/src/test/resources/input/C04-1204.pdf")
    val t24Path = Paths.get("/root/reference/src/test/resources/input/test24.pdf")
    if (!Files.exists(c04Path) || !Files.exists(t24Path)) cancel("reference PDFs not present")
    val c04 = PdfDocument.open(Files.readAllBytes(c04Path))
    val (_, s1) = c04.textContentItemsWithStyles(0)
    assert(s1.map(_._1) == Vector("Times", "Courier")) // missing-file overrides
    val (_, s5) = c04.textContentItemsWithStyles(4)
    assert(s5.map(_._1).exists(_.matches("g_d0_f\\d+_\\d+"))) // descriptor-less Type3
    val t24 = PdfDocument.open(Files.readAllBytes(t24Path))
    val (_, t1) = t24.textContentItemsWithStyles(0)
    assert(t1.map(_._1).take(3) == Vector("g_d0_f1", "g_d0_f2", "g_d0_f3"))
  }
}
