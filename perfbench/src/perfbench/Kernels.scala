package perfbench

import graft.eval.ContentEvaluator
import graft.extract.{Extractor, LineAssembler}
import graft.html.Boilerplate
import graft.pdf.PdfDocument
import graft.svg.GlyphRunParser

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Single-threaded kernel pass: times the extractor's public entry points on
  * a list of payloads, one layer at a time, on the calling thread. Each layer
  * runs twice and the second pass is reported, so the figures are warm. */
object Kernels {

  val Dialects: Seq[String] = Seq("svg", "html", "pdf_fragment", "pdf_file", "markdown", "plain")

  def dialectName(d: Extractor.Dialect): String = d match {
    case Extractor.Dialect.Svg => "svg"
    case Extractor.Dialect.Html => "html"
    case Extractor.Dialect.Pdf => "pdf_fragment"
    case Extractor.Dialect.PdfFile => "pdf_file"
    case Extractor.Dialect.Markdown => "markdown"
    case Extractor.Dialect.Plain => "plain"
  }

  private val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = mx.getCurrentThreadAllocatedBytes
  @volatile var sink = 0L

  /** One measured layer: wall ns and allocated bytes over `n` items. */
  final case class Cost(ns: Long, bytes: Long, n: Int, start: Double, end: Double) {
    def nsPer: Double = if (n == 0) 0.0 else ns.toDouble / n
    def bytesPer: Double = if (n == 0) 0.0 else bytes.toDouble / n
  }

  private def measure[A](tr: Tracer, name: String, items: IndexedSeq[A])(f: A => Int): Cost = {
    def pass(): Cost = {
      val t0 = tr.now(); val n0 = System.nanoTime(); val a0 = allocated()
      var acc = 0L
      var i = 0
      while (i < items.length) { acc += f(items(i)); i += 1 }
      val ns = System.nanoTime() - n0
      val bytes = allocated() - a0
      sink += acc
      Cost(ns, bytes, items.length, t0, tr.now())
    }
    pass()
    val c = pass()
    if (items.nonEmpty) tr.add(name, "kernel", tr.current, c.start, c.end,
      Map("items" -> c.n.toDouble, "alloc_bytes" -> c.bytes.toDouble))
    c
  }

  /** Kernel metrics over the workload's own payloads plus `side` payloads
    * for the dialects it lacks. Metric names follow BENCHMARK.json. */
  def run(tr: Tracer, own: IndexedSeq[String], side: IndexedSeq[String]): ListMap[String, Double] = tr.span("kernel.pass") {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val payloads = own ++ side
    val sniff = measure(tr, "extract.sniff", payloads)(p => dialectName(Extractor.sniff(p)).length)
    out("extract.sniff.ns") = sniff.nsPer
    val byDialect = payloads.groupBy(p => dialectName(Extractor.sniff(p)))
    var totalNs = 0L
    var totalN = 0
    var quarantined = 0
    Dialects.foreach { d =>
      val ps = byDialect.getOrElse(d, IndexedSeq.empty)
      val c = measure(tr, s"extract.$d", ps)(p => Extractor.extract(p).text.length)
      out(s"extract.$d.ns_per_turn") = c.nsPer
      out(s"extract.$d.alloc_bytes_per_turn") = c.bytesPer
      totalNs += c.ns; totalN += c.n
      quarantined += ps.count(p => Extractor.extract(p).spans.exists(_.label == "error"))
    }
    out("extract.turns_per_s_1t") = if (totalNs == 0) 0.0 else totalN / (totalNs / 1e9)
    out("extract.quarantined") = quarantined.toDouble

    val svgs = byDialect.getOrElse("svg", IndexedSeq.empty)
    val parse = measure(tr, "svg.parse", svgs)(p => GlyphRunParser.parse(p).runs.length)
    val runs = svgs.map(p => GlyphRunParser.parse(p).runs)
    val asm = measure(tr, "lines.assemble", runs)(r => LineAssembler.assemble(r).text.length)
    out("svg.parse.ns_per_turn") = parse.nsPer
    out("svg.parse.alloc_bytes_per_turn") = parse.bytesPer
    out("lines.assemble.ns_per_turn") = asm.nsPer
    out("lines.assemble.alloc_bytes_per_turn") = asm.bytesPer

    val htmls = byDialect.getOrElse("html", IndexedSeq.empty)
    val bp = measure(tr, "html.boilerplate", htmls)(p => Boilerplate.extract(p).text.length)
    out("html.boilerplate.ns_per_turn") = bp.nsPer
    out("html.boilerplate.alloc_bytes_per_turn") = bp.bytesPer

    // content-stream evaluation on the workload's own payloads: its PDF
    // fragments where it has them (chat), else each page of its whole files
    // (decoded content with the page's resources); the side fragments only
    // where it has neither
    def ofDialect(ps: IndexedSeq[String], d: Extractor.Dialect) =
      ps.filter(p => Extractor.sniff(p) == d).map(_.getBytes(ISO_8859_1))
    val ownFragments = ofDialect(own, Extractor.Dialect.Pdf)
    val ownFiles = ofDialect(own, Extractor.Dialect.PdfFile)
    val ev =
      if (ownFragments.isEmpty && ownFiles.nonEmpty) {
        val pages = ownFiles.flatMap { b => val d = PdfDocument.open(b); d.pages.map(p => (p.content, p.resources)) }
        measure(tr, "eval.content", pages) { case (c, r) => ContentEvaluator.evaluatePage(c, r, true).runs.length }
      } else {
        val fragments = if (ownFragments.nonEmpty) ownFragments else ofDialect(side, Extractor.Dialect.Pdf)
        measure(tr, "eval.content", fragments)(b => ContentEvaluator.evaluate(b).runs.length)
      }
    out("eval.content.ns_per_turn") = ev.nsPer
    out("eval.content.alloc_bytes_per_turn") = ev.bytesPer

    val files = byDialect.getOrElse("pdf_file", IndexedSeq.empty).map(_.getBytes(ISO_8859_1))
    val open = measure(tr, "pdf.open", files)(b => PdfDocument.open(b).pages.length)
    val docs = files.map(PdfDocument.open)
    val pageRefs = docs.flatMap(d => d.pages.indices.map(i => (d, i)))
    val evalPage = measure(tr, "pdf.eval_page", pageRefs) { case (d, i) => d.evalPage(i).runs.length }
    out("pdf.open.ns_per_file") = open.nsPer
    out("pdf.eval_page.ns_per_page") = evalPage.nsPer
    out("pdf.alloc_bytes_per_page") = evalPage.bytesPer
    out("pdf.pages") = pageRefs.length.toDouble
    ListMap(out.toSeq: _*)
  }
}
