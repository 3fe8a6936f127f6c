package graft

import graft.pdf.PdfDocument
import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.util.control.NonFatal

/** Output pin on both text surfaces of every in-repo PDF.
  *
  * One MD5 per document of `ObjectPinSpec.documents` (the synthetic PDFs and
  * the fuzz mutations) and per content stream of `ContentStreamPinSpec`, each
  * as the one page of a PDF with the resources it names, over, page by page: `evalPage`'s runs (every field,
  * each x at full double precision) and error count,
  * `textContentItemsWithStyles` (every item and style field) and
  * `textContentItems(i, normalizeWhitespace = true)`; then `extractText`.
  * The digests live in `src/test/resources/text-pins.txt`. A failure names
  * each moved or unpinned document with its new `name digest` line.
  */
class TextPinSpec extends AnyFunSuite {

  import TextPinSpec._

  private lazy val pinned: Map[String, String] =
    scala.io.Source.fromResource("text-pins.txt").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val sep = l.lastIndexOf(' '); l.substring(0, sep) -> l.substring(sep + 1) }
      .toMap

  test("text pin: runs, items, styles and text of every page of every in-repo PDF") {
    val digests = documents.map { case (name, b) => name -> ObjectPinSpec.md5(dump(b)) }
    val changed = digests.collect { case (n, d) if !pinned.get(n).contains(d) =>
      s"$n $d" + pinned.get(n).fold(" (not pinned)")(p => s" (pinned $p)")
    }
    val gone = pinned.keySet -- digests.map(_._1)
    if (changed.nonEmpty || gone.nonEmpty) fail((changed ++ gone.map(_ + " missing")).mkString("\n"))
  }
}

object TextPinSpec {

  /** `ContentStreamPinSpec`'s streams as one-page PDFs: fonts F1 (Helvetica),
    * F2 (Courier) and F3 (Times-Bold), ExtGState GS1 (F2 at 9), form Fm1,
    * the self-referencing form Loop and image Im1. */
  private def streamDocs: Seq[(String, Array[Byte])] =
    ContentStreamPinSpec.streams.zipWithIndex.map { case (s, k) =>
      def form(matrix: String, content: String): PdfWriter.Body = PdfWriter.stream(
        s"/Type /XObject /Subtype /Form /Matrix [$matrix] /Resources 4 0 R", content.getBytes(ISO_8859_1))
      s"stream/$k" -> PdfWriter(Seq(
        "<< /Type /Catalog /Pages 2 0 R >>",
        "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Resources 4 0 R /Contents 5 0 R >>",
        "<< /Font << /F1 6 0 R /F2 7 0 R /F3 8 0 R >> /ExtGState << /GS1 << /Font [7 0 R 9] >> >> " +
          "/XObject << /Fm1 9 0 R /Loop 10 0 R /Im1 11 0 R >> >>",
        PdfWriter.stream("", s.getBytes(ISO_8859_1)),
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Times-Bold >>",
        form("1 0 0 1 20 30", "BT /F1 8 Tf 0 0 Td (form) Tj ET"),
        form("1 0 0 1 0 10", "BT /F1 8 Tf (loop) Tj ET /Loop Do"),
        PdfWriter.stream("/Type /XObject /Subtype /Image /Width 1 /Height 1 " +
          "/ColorSpace /DeviceGray /BitsPerComponent 8", Array[Byte](0x7f))))
    }

  lazy val documents: Seq[(String, Array[Byte])] = ObjectPinSpec.documents ++ streamDocs

  private def attempt(f: => String): String =
    try f catch { case NonFatal(e) => s"error ${e.getClass.getName}" }

  private def num(d: Double): String = java.lang.Double.toString(d)

  private def nums(a: Array[Double]): String =
    if (a == null) "null" else a.map(num).mkString("[", ",", "]")

  /** Canonical text of both surfaces over every page, then the document text. */
  def dump(bytes: Array[Byte]): String = attempt {
    val doc = PdfDocument.open(bytes)
    val pages = doc.pages.indices.map { i =>
      val runs = attempt {
        val r = doc.evalPage(i)
        r.runs.map { g =>
          Seq(g.text, nums(g.xs), num(g.y), g.fontFamily, num(g.fontSize), g.fontStyle,
            g.fontWeight, g.fill, nums(g.matrix), g.page.toString).mkString("run ", "|", "")
        }.mkString("\n") + s"\nerrors ${r.errors}"
      }
      def items(xs: Seq[graft.extract.TextItem]): String = xs.map { t =>
        Seq(t.str, t.dir, t.fontFamily, num(t.width), num(t.height), t.fontName)
          .mkString("item ", "|", "")
      }.mkString("\n")
      val styled = attempt {
        val (its, styles) = doc.textContentItemsWithStyles(i)
        items(its) + "\n" + styles.map { case (k, s) =>
          Seq(k, s.fontFamily, num(s.ascent), num(s.descent), s.vertical.toString)
            .mkString("style ", "|", "")
        }.mkString("\n")
      }
      val normalized = attempt(items(doc.textContentItems(i, normalizeWhitespace = true)))
      s"page $i\n$runs\n$styled\nnormalized\n$normalized"
    }
    pages.mkString("\n") + "\ntext " + attempt(doc.extractText)
  }
}
