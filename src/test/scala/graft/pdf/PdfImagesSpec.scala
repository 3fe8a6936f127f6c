package graft.pdf

import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Image XObject enumeration + decode (S13 raster lane): corpus invariants
  * over the reference PDFs, plus synthetic fixtures for the JPEG, raw-sample,
  * Indexed, and form-nested paths. The q61 oracle pins the exact corpus
  * values; this spec pins the structural invariants that make those values
  * trustworthy (decoded dims ≡ dict dims, full-corpus decode coverage).
  */
class PdfImagesSpec extends AnyFunSuite {

  private def load(path: String): Vector[PdfImages.PdfImage] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    PdfImages.list(PdfDocument.open(bytes))
  }

  private def present(path: String): Unit =
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      cancel(s"reference PDF not present: $path")

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.DeflaterOutputStream(out)
    z.write(b); z.close()
    out.toByteArray
  }

  /** A 64x32 scan of a mostly white page (1 = black): two ruled lines. */
  private val scanW = 64
  private val scanH = 32
  private val scanInk = 2 * scanW + 2 * (scanH - 2)
  private val scanG4: Array[Byte] = graft.testgen.Jbig2Synth.encodeMmrG4(
    Array.tabulate[Byte](scanW * scanH) { i =>
      val (x, y) = (i % scanW, i / scanW)
      if (y == 8 || y == 20 || x == 4 || x == 5) 1 else 0
    }, scanW, scanH)
  private val scanDict = s"/Width $scanW /Height $scanH /BitsPerComponent 1 " +
    s"/ColorSpace /DeviceGray /Filter /CCITTFaxDecode " +
    s"/DecodeParms << /K -1 /Columns $scanW /Rows $scanH >>"

  test("corpus: CCITT G4 scans decode white-dominant (photometric mapping)") {
    // a scanned text page is mostly background; an inverted photometric
    // mapping would flip it to mostly black
    val ccitt = PdfImages.list(PdfDocument.open(pdfWithImage(scanDict, scanG4)))
    assert(ccitt.map(_.filter) == Vector("CCITTFaxDecode"))
    val expected = math.round(255.0 * (scanW * scanH - scanInk) / (scanW * scanH)).toInt
    assert(math.abs(ccitt.head.grayMean - expected) <= 1, ccitt.head.grayMean.toString)
  }

  test("reference corpus: CCITT G4 scans decode white-dominant (photometric mapping)") {
    present("/root/reference/test-papers/2839.pdf")
    val ccitt = load("/root/reference/test-papers/2839.pdf")
      .filter(_.filter == "CCITTFaxDecode")
    assert(ccitt.length == 7)
    assert(ccitt.forall(_.grayMean > 128), ccitt.map(_.grayMean).mkString(","))
  }

  test("corpus: every image decodes and decoded dims equal dict dims") {
    // one image of each kind the reference corpus holds, on one page
    val grayJpeg = {
      val img = new java.awt.image.BufferedImage(24, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 24) img.getRaster.setSample(x, y, 0, (x * 10 + y) & 0xff)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val images: Seq[(String, Array[Byte])] = Seq(
      "/Width 40 /Height 30 /BitsPerComponent 8 /ColorSpace /DeviceRGB /Filter /DCTDecode" ->
        graft.ops.Multimodal.encodeTestJpeg(40, 30, seed = 7),
      "/Width 24 /Height 16 /BitsPerComponent 8 /ColorSpace /DeviceGray /Filter /DCTDecode" ->
        grayJpeg,
      "/Width 8 /Height 4 /BitsPerComponent 8 /ColorSpace [/ICCBased 12 0 R] /Filter /FlateDecode" ->
        deflate(Array.tabulate[Byte](32)(i => (i * 8).toByte)),
      "/Width 4 /Height 4 /BitsPerComponent 8 /ColorSpace [/ICCBased 13 0 R] /Filter /FlateDecode" ->
        deflate(Array.tabulate[Byte](48)(i => (i * 5).toByte)),
      "/Width 2 /Height 1 /BitsPerComponent 8 /ColorSpace [/Indexed /DeviceRGB 1 <000000FF0000>]" ->
        Array[Byte](0, 1),
      scanDict -> scanG4,
      "/Width 8 /Height 1 /BitsPerComponent 1 /ImageMask true" -> Array[Byte](0xF0.toByte))
    val names = images.indices.map(i => s"/Im${i + 1} ${i + 5} 0 R").mkString(" ")
    val content = images.indices.map(i => s"q 10 0 0 10 ${i * 20} 0 cm /Im${i + 1} Do Q").mkString(" ")
    val imgs = PdfImages.list(PdfDocument.open(PdfWriter(Seq[PdfWriter.Body](
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Resources << /XObject << $names >> >> /Contents 4 0 R >>",
      PdfWriter.stream("", content.getBytes(ISO_8859_1))) ++
      images.map { case (d, b) => PdfWriter.stream(s"/Type /XObject /Subtype /Image $d", b) } ++
      Seq("/N 1", "/N 3").map(PdfWriter.stream(_, Array.emptyByteArray)))))
    assert(imgs.length == images.length)
    imgs.foreach { i =>
      assert(i.decodedW == i.width && i.decodedH == i.height,
        s"${i.name}: dict ${i.width}x${i.height} vs decoded ${i.decodedW}x${i.decodedH}")
      assert(i.grayMean >= 0 && i.grayMean <= 255, s"${i.name} gray ${i.grayMean}")
    }
  }

  test("reference corpus: every image decodes and decoded dims equal dict dims") {
    val papers = Map(
      "/root/reference/src/test/resources/input/test24.pdf" -> 15,
      "/root/reference/src/test/resources/input/test25.pdf" -> 11,
      "/root/reference/test-papers/2839.pdf" -> 10)
    (papers.keys.toSeq :+ "/root/reference/src/test/resources/input/1301.4293.pdf").foreach(present)
    papers.foreach { case (path, expected) =>
      val imgs = load(path)
      assert(imgs.length == expected, s"$path count")
      imgs.foreach { i =>
        assert(i.decodedW == i.width && i.decodedH == i.height,
          s"$path ${i.name}: dict ${i.width}x${i.height} vs decoded ${i.decodedW}x${i.decodedH}")
        assert(i.grayMean >= 0 && i.grayMean <= 255, s"$path ${i.name} gray ${i.grayMean}")
      }
    }
    assert(load("/root/reference/src/test/resources/input/1301.4293.pdf").isEmpty)
  }

  private def pdfWithImage(imgDict: String, imgBytes: Array[Byte],
      content: String = "q 100 0 0 100 0 0 cm /Im1 Do Q"): Array[Byte] = PdfWriter(Seq(
    "<< /Type /Catalog /Pages 2 0 R >>",
    "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
      "/Resources << /XObject << /Im1 5 0 R >> >> /Contents 4 0 R >>",
    PdfWriter.stream("", content.getBytes(ISO_8859_1)),
    PdfWriter.stream(s"/Type /XObject /Subtype /Image $imgDict", imgBytes)))

  test("synthetic: embedded JPEG round-trips through DCTDecode") {
    val jpeg = graft.ops.Multimodal.encodeTestJpeg(40, 30, seed = 7)
    val pdf = pdfWithImage(
      "/Width 40 /Height 30 /BitsPerComponent 8 /ColorSpace /DeviceRGB /Filter /DCTDecode",
      jpeg)
    val imgs = PdfImages.list(PdfDocument.open(pdf))
    assert(imgs.length == 1)
    val i = imgs.head
    assert(i.decodedW == 40 && i.decodedH == 30 && i.decodedBands == 3)
    // same bytes through the generic image decoder must agree on the mean
    val direct = graft.ops.Multimodal.decodeImage(jpeg).get
    val expectedGray = math.round(
      (299 * direct.mean(0) + 587 * direct.mean(1) + 114 * direct.mean(2)) / 1000 * 255).toInt
    assert(math.abs(i.grayMean - expectedGray) <= 1, s"${i.grayMean} vs $expectedGray")
  }

  test("synthetic: raw gray samples, no filter") {
    // 4x2 gradient, bpc 8, one component
    val samples = Array.tabulate[Byte](8)(i => (i * 32).toByte)
    val pdf = pdfWithImage(
      "/Width 4 /Height 2 /BitsPerComponent 8 /ColorSpace /DeviceGray", samples)
    val i = PdfImages.list(PdfDocument.open(pdf)).head
    assert(i.decodedW == 4 && i.decodedH == 2)
    assert(i.grayMean == math.round(samples.map(_ & 0xff).sum / 8.0).toInt)
  }

  test("synthetic: Indexed palette maps indices through base space") {
    // 2x1, bpc 8, indices 0,1 → palette black / pure red
    val pdf = pdfWithImage(
      "/Width 2 /Height 1 /BitsPerComponent 8 " +
        "/ColorSpace [/Indexed /DeviceRGB 1 <000000FF0000>]",
      Array[Byte](0, 1))
    val i = PdfImages.list(PdfDocument.open(pdf)).head
    assert(i.decodedW == 2 && i.decodedH == 1)
    // mean luma = (0 + 0.299*255)/2 ≈ 38
    assert(math.abs(i.grayMean - 38) <= 1, i.grayMean.toString)
  }

  test("synthetic: 1-bit image mask (no /ColorSpace) decodes") {
    // 8x1: 0xF0 → four white-ish then four black taps under mask semantics
    val pdf = pdfWithImage(
      "/Width 8 /Height 1 /BitsPerComponent 1 /ImageMask true", Array[Byte](0xF0.toByte))
    val i = PdfImages.list(PdfDocument.open(pdf)).head
    assert(i.decodedW == 8 && i.decodedH == 1 && i.bpc == 1)
    assert(i.grayMean == 128) // half 255, half 0
  }

  test("images nested in form XObjects list with path-qualified names") {
    val jpeg = graft.ops.Multimodal.encodeTestJpeg(16, 16, seed = 3)
    val imgs = PdfImages.list(PdfDocument.open(PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /XObject << /Fm1 4 0 R >> >> /Contents 6 0 R >>",
      PdfWriter.stream("/Type /XObject /Subtype /Form /Resources << /XObject << /Im1 5 0 R >> >>",
        "/Im1 Do".getBytes(ISO_8859_1)),
      PdfWriter.stream("/Type /XObject /Subtype /Image /Width 16 /Height 16 " +
        "/BitsPerComponent 8 /ColorSpace /DeviceRGB /Filter /DCTDecode", jpeg),
      PdfWriter.stream("", "/Fm1 Do".getBytes(ISO_8859_1))))))
    assert(imgs.map(_.name) == Vector("Fm1/Im1"))
    assert(imgs.head.decodedW == 16)
  }

  test("ccitt TIFF wrap: header structure is a valid little-endian TIFF") {
    val tiff = PdfImages.wrapCcittAsTiff(Array[Byte](1, 2, 3), 100, 50,
      k = -1, blackIs1 = false, byteAlign = false)
    assert(tiff(0) == 'I' && tiff(1) == 'I' && tiff(2) == 42)
    val buf = java.nio.ByteBuffer.wrap(tiff).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.position(4)
    val ifd = buf.getInt
    buf.position(ifd)
    val n = buf.getShort
    val tags = (0 until n).map { _ =>
      val id = buf.getShort & 0xffff; buf.getShort; buf.getInt; buf.getInt; id
    }
    assert(tags == tags.sorted, "IFD tags must be ascending")
    assert(tags.contains(259) && tags.contains(293)) // Compression + T6Options
    // payload lands at the strip offset
    assert(tiff.takeRight(3).toSeq == Seq[Byte](1, 2, 3))
  }
}
