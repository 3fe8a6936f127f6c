package graft

import graft.pdf.PdfDocument
import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** Never-fail discipline under corruption (SURVEY.md §2.1 S6): random byte
  * mutations, truncations and garbage prefixes of a real PDF must parse to
  * SOMETHING (possibly zero pages) without throwing — at 10^12 rows a single
  * malformed file must not kill the job.
  */
class PdfFuzzSpec extends AnyFunSuite {

  import PdfFuzzSpec._

  private val pdfPath = Paths.get("/root/reference/src/test/resources/input/1301.4293.pdf")

  test("mutated / truncated / garbage-prefixed PDFs never throw") {
    if (!Files.exists(pdfPath)) cancel("reference inputs not present")
    val base = Files.readAllBytes(pdfPath)
    val rnd = new scala.util.Random(42)

    def openSafely(bytes: Array[Byte], what: String): Unit = {
      val doc = PdfDocument.open(bytes)
      val n = doc.tspanTexts.length // forces full parse + evaluation
      assert(n >= 0, what)
    }

    // point mutations
    (0 until 120).foreach { k =>
      val b = base.clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      openSafely(b, s"mutation $k")
    }
    // truncations (incl. mid-xref and mid-stream)
    Seq(10, 100, 1024, base.length / 3, base.length / 2, base.length - 20).foreach { len =>
      openSafely(java.util.Arrays.copyOf(base, len), s"truncate $len")
    }
    // garbage prefix (common in mail-extracted PDFs) and pure garbage
    openSafely("GARBAGE HEADER\n".getBytes ++ base, "prefix")
    openSafely(Array.fill(4096)(rnd.nextInt(256).toByte), "pure garbage")
    openSafely(Array.emptyByteArray, "empty")
  }

  test("round-3 surfaces under mutation: colorspace, vertical W2, metadata, XMP") {
    // a synthetic doc exercising every round-3 dict parser, then mutated —
    // corrupt /W2 triples, Indexed lookups, /Info and /Metadata must all
    // degrade, never throw
    val base = colorMetadataBase

    def openSafely(bytes: Array[Byte], what: String): Unit = {
      val doc = PdfDocument.open(bytes)
      val _ = (doc.tspanTexts.length, doc.info.size, doc.xmp.map(_.length))
      assert(true, what)
    }
    openSafely(base, "clean") // sanity: the unmutated doc parses
    val rnd = new scala.util.Random(7)
    (0 until 80).foreach { k =>
      val b = base.clone()
      (0 until 1 + rnd.nextInt(6)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      openSafely(b, s"mutation $k")
    }
    Seq(30, base.length / 2, base.length - 10).foreach { len =>
      openSafely(java.util.Arrays.copyOf(base, len), s"truncate $len")
    }
  }

  test("image enumeration + decode never throws on corrupt image dicts/payloads") {
    // a doc with DCT, CCITT, raw-Indexed and Lab image XObjects, then mutated:
    // corrupt JPEG bytes, impossible dimensions, truncated palettes and broken
    // DecodeParms must all degrade to metadata-only rows, never throw
    val base = imageBase

    def listSafely(bytes: Array[Byte], what: String): Unit = {
      val imgs = graft.pdf.PdfImages.list(PdfDocument.open(bytes))
      imgs.foreach(i => assert(i.grayMean >= -1 && i.grayMean <= 255, what))
    }
    listSafely(base, "clean")
    assert(graft.pdf.PdfImages.list(PdfDocument.open(base)).length == 3)
    val rnd = new scala.util.Random(13)
    (0 until 80).foreach { k =>
      val b = base.clone()
      (0 until 1 + rnd.nextInt(6)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      listSafely(b, s"mutation $k")
    }
    Seq(30, base.length / 2, base.length - 10).foreach { len =>
      listSafely(java.util.Arrays.copyOf(base, len), s"truncate $len")
    }
  }

  test("catalog surfaces under mutation: outline, dests, annots, attachments, js, labels") {
    // a doc carrying EVERY round-6 catalog surface at once, then mutated —
    // outline trees, name trees, filespecs, annotation dicts and page-label
    // trees must all degrade (None / empty / skipped entries), never throw
    val base = catalogBase

    def openSafely(bytes: Array[Byte], what: String): Unit = {
      val doc = PdfDocument.open(bytes)
      val _ = (doc.outline.map(_.length), doc.destinations.size,
        doc.attachments.size, doc.javaScript.length, doc.pageLabels,
        doc.fingerprint.length,
        (0 until doc.pages.length).map(doc.annotations(_).length).sum)
      assert(true, what)
    }
    openSafely(base, "clean")
    // sanity: the unmutated doc exposes every surface
    val doc = PdfDocument.open(base)
    assert(doc.outline.exists(_.length == 2) && doc.destinations.size == 2 &&
      doc.attachments.size == 1 && doc.javaScript == Vector("x();", "print({});") &&
      doc.annotations(0).length == 1 && doc.pageLabels.exists(_.head == "i"))
    val rnd = new scala.util.Random(37)
    (0 until 120).foreach { k =>
      val b = base.clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      openSafely(b, s"catalog mutation $k")
    }
    Seq(40, base.length / 3, base.length / 2, base.length - 10).foreach { len =>
      openSafely(java.util.Arrays.copyOf(base, len), s"catalog truncate $len")
    }
  }

  test("a page dict nested 200,000 deep: Extractor.extract returns the page text on a 512 KB stack") {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val depth = 200000
    Seq("array" -> ("[" * depth + "]" * depth),
        "dict" -> ("<< /A " * depth + ">> " * depth)).foreach { case (kind, nested) =>
      val pdf = PdfWriter(Seq(
        "<< /Type /Catalog /Pages 2 0 R >>",
        "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Deep $nested " +
          "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >>",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        PdfWriter.stream("", "BT /F1 12 Tf 72 720 Td (Deep nesting) Tj ET".getBytes(ISO_8859_1))))
      // a Spark task thread's stack is small; StackOverflowError is not NonFatal
      var got: Either[Throwable, String] = Left(new IllegalStateException("not run"))
      val worker = new Thread(null, () => got =
        try Right(graft.extract.Extractor.extract(new String(pdf, ISO_8859_1)).text)
        catch { case e: Throwable => Left(e) }, s"nested-$kind", 512L * 1024)
      worker.start()
      worker.join()
      assert(got == Right("Deep nesting"), kind)
    }
  }

  test("JBIG2 lane under mutation: corrupt arithmetic data never throws") {
    val base = graft.testgen.Jbig2Synth.pdfWithJbig2(48, 32, seed = 21)
    def listSafely(bytes: Array[Byte], what: String): Unit = {
      val imgs = graft.pdf.PdfImages.list(PdfDocument.open(bytes))
      imgs.foreach(i => assert(i.grayMean >= -1 && i.grayMean <= 255, what))
    }
    listSafely(base, "clean jbig2")
    assert(graft.pdf.PdfImages.list(PdfDocument.open(base)).length == 1)
    val rnd = new scala.util.Random(29)
    (0 until 80).foreach { k =>
      val b = base.clone()
      (0 until 1 + rnd.nextInt(8)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      listSafely(b, s"jbig2 mutation $k")
    }
    Seq(40, base.length / 2, base.length - 8).foreach { len =>
      listSafely(java.util.Arrays.copyOf(base, len), s"jbig2 truncate $len")
    }
  }
}

/** The unmutated synthetic documents, shared with the object pin
  * (`ObjectPinSpec`), which replays the same seeded mutations. */
object PdfFuzzSpec {

  import java.nio.charset.StandardCharsets.ISO_8859_1

  /** Every round-3 dict parser: colorspaces, vertical /W2, /Info and XMP. */
  private[graft] def colorMetadataBase: Array[Byte] = {
    val content = "BT /F1 12 Tf /CS0 cs 1 scn 72 720 Td <00010005> Tj /CS1 cs 0.5 scn (x) Tj ET"
    val xml = "<?xpacket?><x:xmpmeta></x:xmpmeta>"
    PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R /Metadata 9 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 4 0 R >> /ColorSpace << /CS0 [/Indexed /DeviceRGB 1 <FF000000FF00>] " +
        "/CS1 [/Separation /Spot /DeviceCMYK 10 0 R] >> >> /Contents 8 0 R >>",
      "<< /Type /Font /Subtype /Type0 /BaseFont /V /Encoding /Identity-V " +
        "/DescendantFonts [5 0 R] >>",
      "<< /Type /Font /Subtype /CIDFontType2 /BaseFont /V /FontDescriptor 6 0 R " +
        "/DW 1000 /W [1 [500]] /DW2 [880 -1000] /W2 [1 [-800 250 880] 5 9 -900 300 880] >>",
      "<< /Type /FontDescriptor /FontName /V /Flags 4 >>",
      "<< /Title (t) /Author (\\376\\377\\000A) /Trapped /False >>",
      PdfWriter.stream("", content.getBytes(ISO_8859_1)),
      PdfWriter.stream("/Type /Metadata /Subtype /XML", xml.getBytes(ISO_8859_1)),
      "<< /FunctionType 2 >>"),
      " /Info 7 0 R")
  }

  /** DCT, CCITT and raw-Indexed image XObjects. */
  private[graft] def imageBase: Array[Byte] = {
    val jpeg = graft.ops.Multimodal.encodeTestJpeg(24, 18, seed = 5)
    PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /XObject << /I1 4 0 R /I2 5 0 R /I3 6 0 R >> >> /Contents 7 0 R >>",
      PdfWriter.stream("/Type /XObject /Subtype /Image /Width 24 /Height 18 " +
        "/BitsPerComponent 8 /ColorSpace /DeviceRGB /Filter /DCTDecode", jpeg),
      PdfWriter.stream("/Type /XObject /Subtype /Image /Width 16 /Height 4 /BitsPerComponent 1 " +
        "/Filter /CCITTFaxDecode /DecodeParms << /K -1 /Columns 16 /Rows 4 >>", Array[Byte](1, 2, 3, 4)),
      PdfWriter.stream("/Type /XObject /Subtype /Image /Width 2 /Height 2 /BitsPerComponent 8 " +
        "/ColorSpace [/Indexed /DeviceRGB 3 <FF000000FF000000FFFFFFFF>]", Array[Byte](0, 1, 2, 3)),
      PdfWriter.stream("", "q 10 0 0 10 0 0 cm /I1 Do /I2 Do /I3 Do Q".getBytes(ISO_8859_1))))
  }

  /** Every round-6 catalog surface at once, with /Annots spliced onto page 1. */
  private[graft] def catalogBase: Array[Byte] = {
    val base0 = graft.testgen.Synth.pdfWithCatalogExtra(2,
      "/Outlines 5 0 R /Names << /Dests 8 0 R /EmbeddedFiles 9 0 R /JavaScript 11 0 R >> " +
        "/PageLabels << /Nums [0 << /S /r >>] >> " +
        "/OpenAction << /Type /Action /S /Named /N /Print >>", Seq(
        "<< /First 6 0 R /Last 7 0 R >>",
        "<< /Title (A) /Dest (d1) /Next 7 0 R >>",
        "<< /Title (B) /A << /S /URI /URI (https://x.org/) >> /C [0.2 0.4 0.6] /F 2 >>",
        "<< /Names [(d1) [3 0 R /XYZ 1 2 null] (d2) [4 0 R /Fit]] >>",
        "<< /Names [(f1) 10 0 R] >>",
        "<< /Type /Filespec /F (a.txt) /EF << /F 12 0 R >> >>",
        "<< /Names [(j1) << /S /JavaScript /JS (x\\(\\);) >>] >>",
        "<< /Length 3 >>\nstream\nabc\nendstream"))
    // splice /Annots onto page 1 (3 0 obj)
    new String(base0, ISO_8859_1).replaceFirst(
      java.util.regex.Pattern.quote("3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>"),
      java.util.regex.Matcher.quoteReplacement(
        "3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
          "/Annots [13 0 R] >>")).getBytes(ISO_8859_1) ++
      "13 0 obj\n<< /Subtype /Link /Rect [1 2 3 4] /Dest (d2) >>\nendobj\n".getBytes(ISO_8859_1)
  }
}
