package graft

import graft.pdf.PdfDocument
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

/** Cross-reference streams + object streams (SURVEY.md §2.1 S5/S7): a
  * synthetic PDF whose catalog/pages/page dicts live inside an /ObjStm and
  * whose only index is a /Type /XRef stream (/W [1 4 2], explicit /Index) —
  * the PDF 1.5 layout the reference corpus never exercises.
  */
class XrefStreamSpec extends AnyFunSuite {

  import XrefStreamSpec._

  test("xref stream + object stream document parses and extracts") {
    val bytes = xrefStreamPdf
    val doc = PdfDocument.open(bytes)
    assert(doc.pages.length == 1)
    val runs = doc.evalPage(0).runs
    assert(runs.map(_.text) == Vector("xref stream works"))
    assert(doc.pageText(0).text == "xref stream works")
    // the same text through the call extract_turn runs on a whole-PDF payload
    assert(graft.extract.Extractor.extract(new String(bytes, ISO_8859_1)).text ==
      "xref stream works")
  }

  test("self/mutual ObjStm cycles degrade to PNull instead of StackOverflowError") {
    val bytes = objStmCyclePdf

    // never-fail: open must not throw (a StackOverflowError is not NonFatal
    // and would escape every salvage catch)
    val doc = PdfDocument.open(bytes)
    assert(doc.pages.isEmpty)
  }
}

/** The spec's files, shared with the object pin (`ObjectPinSpec`). */
object XrefStreamSpec {

  /** One /W [1 4 2] xref-stream row: type, 4-byte field 2, 2-byte field 3. */
  private def row(t: Int, a: Int, b: Int): Array[Byte] =
    Array(t.toByte,
      ((a >> 24) & 0xff).toByte, ((a >> 16) & 0xff).toByte, ((a >> 8) & 0xff).toByte, (a & 0xff).toByte,
      ((b >> 8) & 0xff).toByte, (b & 0xff).toByte)

  /** Catalog, pages and page in an /ObjStm, indexed by an xref stream. */
  private[graft] def xrefStreamPdf: Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def offset: Int = out.size
    def write(s: String): Unit = out.write(s.getBytes(ISO_8859_1))

    write("%PDF-1.5\n")

    // object 1: object stream holding objects 2 (catalog), 3 (pages), 4 (page)
    val inner = Seq(
      2 -> "<< /Type /Catalog /Pages 3 0 R >>",
      3 -> "<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
      4 -> "<< /Type /Page /Parent 3 0 R /MediaBox [0 0 612 792] /Contents 5 0 R >>")
    val bodies = inner.map(_._2)
    val offs = bodies.scanLeft(0)((acc, b) => acc + b.length + 1).init
    val header = inner.map(_._1).zip(offs).map { case (n, o) => s"$n $o" }.mkString(" ")
    val payload = header + "\n" + bodies.mkString("\n")
    val off1 = offset
    write(s"1 0 obj\n<< /Type /ObjStm /N ${inner.length} /First ${header.length + 1} " +
      s"/Length ${payload.length} >>\nstream\n$payload\nendstream\nendobj\n")

    // object 5: the page content stream
    val content = "BT /F1 12 Tf 72 720 Td (xref stream works) Tj ET"
    val off5 = offset
    write(s"5 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n")

    // object 6: the xref stream (/W [1 4 2], uncompressed)
    val off6 = offset
    val rows = Array(
      row(0, 0, 0xffff), // 0: free
      row(1, off1, 0), // 1: the ObjStm itself
      row(2, 1, 0), // 2: catalog, in stream 1 index 0
      row(2, 1, 1), // 3: pages
      row(2, 1, 2), // 4: page
      row(1, off5, 0), // 5: contents
      row(1, off6, 0) // 6: this xref stream
    ).flatten
    write(s"6 0 obj\n<< /Type /XRef /Size 7 /W [1 4 2] /Index [0 7] /Root 2 0 R " +
      s"/Length ${rows.length} >>\nstream\n")
    out.write(rows)
    write("\nendstream\nendobj\n")
    write(s"startxref\n$off6\n%%EOF\n")
    out.toByteArray
  }

  /** An xref stream whose ObjStm entries point at themselves or each other. */
  private[graft] def objStmCyclePdf: Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def write(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    write("%PDF-1.5\n")
    val offX = out.size
    // 1: claims to live in ObjStm 1 (itself); 2 in 3 and 3 in 2 (mutual cycle)
    val rows = Array(
      row(0, 0, 0xffff),
      row(2, 1, 0), // 1 "inside" stream 1
      row(2, 3, 0), // 2 inside stream 3
      row(2, 2, 0), // 3 inside stream 2
      row(1, offX, 0) // 4: this xref stream
    ).flatten
    write(s"4 0 obj\n<< /Type /XRef /Size 5 /W [1 4 2] /Index [0 5] /Root 1 0 R " +
      s"/Length ${rows.length} >>\nstream\n")
    out.write(rows)
    write("\nendstream\nendobj\n")
    write(s"startxref\n$offX\n%%EOF\n")
    out.toByteArray
  }
}
