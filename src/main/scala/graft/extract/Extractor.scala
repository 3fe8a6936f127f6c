package graft.extract

import graft.core.{ExtractedTurn, Span, Turn, TurnMetrics}
import graft.eval.ContentEvaluator
import graft.html.Boilerplate
import graft.svg.GlyphRunParser

import java.nio.charset.StandardCharsets

/** Per-turn main-content extraction: payload sniff → dialect-specific parse →
  * reading-order text + character-offset spans + metrics.
  *
  * Dialects (FIXTURES.md §2-4):
  *   A: reference-dialect SVG positioned glyph runs → parse tspans → line reassembly
  *   B: HTML-wrapped turns → DOM heuristics boilerplate strip
  *   C: raw PDF content-stream fragment → tokenizer/evaluator → glyph runs → lines
  *   whole PDF file → `PdfDocument.pageText` per page, pages joined by a newline
  *   fallback: plain text passes through unchanged.
  *
  * Never throws: corrupt payloads degrade to the fallback with an error-marking
  * span (the reference's recovery discipline — XRef.indexObjects, EvaluatorPreprocessor
  * warn-and-continue).
  */
object Extractor {

  final case class Result(text: String, spans: Seq[Span], metrics: TurnMetrics)

  sealed trait Dialect
  object Dialect {
    case object Svg extends Dialect
    case object Html extends Dialect
    case object Pdf extends Dialect
    case object PdfFile extends Dialect
    case object Markdown extends Dialect
    case object Plain extends Dialect
  }

  def sniff(payload: String): Dialect = {
    // allocation-free: scan past leading whitespace, then prefix-match in place
    var i = 0
    val n = payload.length
    while (i < n && Character.isWhitespace(payload.charAt(i))) i += 1
    def at(prefix: String): Boolean = payload.startsWith(prefix, i)
    if (at("%PDF-")) Dialect.PdfFile // whole file: header magic (S2 sniff)
    else if (at("---") && { val j = i + 3; j >= n || payload.charAt(j) == '\n' || payload.charAt(j) == '\r' } &&
             hasClosingFence(payload, i + 3))
      Dialect.Markdown // YAML front matter opener WITH its closing fence
    else if (at("# ") && hasMarkdownSignal(payload, i + 2))
      Dialect.Markdown // ATX heading + at least one more markdown construct
    else if (at("<svg:svg") || at("<svg ") || payload.indexOf("<svg:tspan", i) >= 0) Dialect.Svg
    else if (at("<!") || at("<html") || at("<HTML") ||
             (i + 1 < n && payload.charAt(i) == '<' && payload.charAt(i + 1).isLetter)) Dialect.Html
    else if (hasContentStreamShape(payload, i)) Dialect.Pdf
    else Dialect.Plain
  }

  /** A later line that is exactly `---` (trimmed) — front matter must CLOSE to
    * count as markdown, so plain text that merely opens with a dash rule (or a
    * diff fragment) passes through verbatim instead of losing its head. */
  private def hasClosingFence(t: String, from: Int): Boolean = {
    var i = t.indexOf("\n---", from)
    while (i >= 0) {
      var j = i + 4
      while (j < t.length && (t.charAt(j) == ' ' || t.charAt(j) == '\t')) j += 1
      if (j >= t.length || t.charAt(j) == '\n' || t.charAt(j) == '\r') return true
      i = t.indexOf("\n---", i + 1)
    }
    false
  }

  /** A second markdown construct beyond the opening heading: another heading
    * line, a fence, or link syntax. One `# ` alone is ambiguous with plain
    * text like `# include <stdio.h>` — ambiguity resolves to Plain, which
    * passes the payload through verbatim (the safe direction). */
  private def hasMarkdownSignal(t: String, from: Int): Boolean =
    t.indexOf("\n#", from) >= 0 || t.indexOf("\n```", from) >= 0 ||
      t.indexOf("](", from) >= 0

  /** Content-stream shape — deliberately strict: a `BT`…`ET` block containing a
    * text-showing operator as a standalone token. Loose prefixes (`/`, `q `,
    * bare `BT`) misfire badly on chat text ("/remind me…", "BT Group reported…")
    * and silently extract it to nothing, so plain text wins any ambiguity. */
  private def hasContentStreamShape(t: String, from: Int): Boolean = {
    val bt = tokenIndex(t, "BT", from)
    if (bt < 0) return false
    val et = tokenIndex(t, "ET", bt + 2)
    if (et < 0) return false
    val tj = tokenIndex(t, "Tj", bt)
    val tJ2 = tokenIndex(t, "TJ", bt)
    (tj >= 0 && tj < et) || (tJ2 >= 0 && tJ2 < et)
  }

  /** indexOf of `tok` as a whitespace/delimiter-separated token. */
  private def tokenIndex(t: String, tok: String, from: Int): Int = {
    var i = t.indexOf(tok, from)
    while (i >= 0) {
      val beforeOk = i == 0 || { val c = t.charAt(i - 1); c <= ' ' || c == ')' || c == ']' }
      val after = i + tok.length
      val afterOk = after >= t.length || { val c = t.charAt(after); c <= ' ' || c == '(' || c == '[' || c == '/' }
      if (beforeOk && afterOk) return i
      i = t.indexOf(tok, i + 1)
    }
    -1
  }

  def extract(payload: String): Result =
    try {
      sniff(payload) match {
        case Dialect.Svg =>
          val parsed = GlyphRunParser.parse(payload)
          val asm = LineAssembler.assemble(parsed.runs)
          Result(asm.text, asm.spans,
            TurnMetrics(parsed.runs.length, asm.text.length, parsed.errors))
        case Dialect.Html =>
          val ex = Boilerplate.extract(payload)
          Result(ex.text, ex.spans, TurnMetrics(ex.spans.length, ex.text.length, ex.droppedNodes))
        case Dialect.Pdf =>
          val res = ContentEvaluator.evaluate(payload.getBytes(StandardCharsets.ISO_8859_1))
          val asm = LineAssembler.assemble(res.runs)
          Result(asm.text, asm.spans, TurnMetrics(res.runs.length, asm.text.length, res.errors))
        case Dialect.PdfFile =>
          // a whole PDF file as the turn payload (latin-1-preserved bytes):
          // each page's reading-order text, pages joined by a newline; the
          // pages' evaluator errors count as dropped nodes
          val doc = graft.pdf.PdfDocument.open(payload.getBytes(StandardCharsets.ISO_8859_1))
          val sb = new StringBuilder
          val spans = Seq.newBuilder[Span]
          var runs, errors = 0
          doc.pages.indices.foreach { p =>
            val page = doc.pageText(p)
            if (p > 0 && sb.nonEmpty) sb.append('\n')
            val start = sb.length
            sb.append(page.text)
            spans += Span(start, sb.length, s"pdf>page${p + 1}")
            runs += page.runs
            errors += page.errors
          }
          Result(sb.toString, spans.result(), TurnMetrics(runs, sb.length, errors))
        case Dialect.Markdown =>
          val ex = MarkdownLite.strip(payload)
          Result(ex.text, Seq(Span(0, ex.text.length, "markdown")),
            TurnMetrics(0, ex.text.length, ex.droppedLines))
        case Dialect.Plain =>
          Result(payload, Seq(Span(0, payload.length, "text")), TurnMetrics(0, payload.length, 0))
      }
    } catch {
      case scala.util.control.NonFatal(_) =>
        // quarantine path: never fail the row (SURVEY.md §2.1 S6); a null
        // payload lands here too and quarantines as the empty turn
        val p = if (payload == null) "" else payload
        Result(p, Seq(Span(0, p.length, "error")), TurnMetrics(0, p.length, 1))
    }

  def extractTurn(t: Turn): ExtractedTurn = {
    val r = extract(t.text)
    ExtractedTurn(t.conv_id, t.turn_idx, r.text, r.spans, r.metrics)
  }
}
