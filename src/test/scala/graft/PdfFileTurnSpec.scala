package graft

import graft.extract.Extractor
import graft.pdf.PdfDocument
import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1

/** A whole PDF as a turn payload reports its pages' content-stream errors in
  * `metrics.dropped_nodes`, as a content-stream fragment does: the sum of
  * every page's skipped operators and bad operands, through `Extractor` and
  * through SQL `extract_turn`.
  */
class PdfFileTurnSpec extends AnyFunSuite {

  // page 1: an unknown operator and a Tf with one operand (2 skipped ops);
  // page 2: an unbalanced Q
  private val payload: String = new String(PdfWriter(Seq(
    "<< /Type /Catalog /Pages 2 0 R >>",
    "<< /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >>",
    "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 5 0 R >>",
    "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 6 0 R >>",
    PdfWriter.stream("", "BT /F1 12 Tf 72 700 Td (kept) Tj foo 12 Tf (shown) Tj ET".getBytes(ISO_8859_1)),
    PdfWriter.stream("", "Q BT /F1 12 Tf 72 700 Td (second) Tj ET".getBytes(ISO_8859_1)))), ISO_8859_1)

  private lazy val pageErrors: Seq[Int] = {
    val doc = PdfDocument.open(payload.getBytes(ISO_8859_1))
    doc.pages.indices.map(doc.evalPage(_).errors)
  }

  test("a whole PDF's dropped_nodes is the sum of its pages' errors") {
    assert(pageErrors == Seq(2, 1))
    val r = Extractor.extract(payload)
    assert(r.text == "keptshown\nsecond")
    assert(r.metrics.runs == 2)
    assert(r.metrics.dropped_nodes == pageErrors.sum)
  }

  test("SQL extract_turn reports a whole PDF's page errors") {
    val spark = SparkTestSession.spark.newSession()
    graft.functions.TextHashes.register(spark)
    import spark.implicits._
    Seq(payload).toDF("payload").createOrReplaceTempView("pdf_turns")
    val row = spark.sql(
      "SELECT t.extracted_text, t.metrics.dropped_nodes FROM " +
        "(SELECT extract_turn(payload) AS t FROM pdf_turns)").head()
    assert(row.getString(0) == "keptshown\nsecond")
    assert(row.getInt(1) == pageErrors.sum)
  }
}
