package graft.testgen

import graft.core.{GlyphRun, NumFmt}
import graft.eval.FontMetrics
import graft.svg.SvgEmitter

import java.nio.charset.StandardCharsets.ISO_8859_1

import scala.collection.mutable.ArrayBuffer

/** Deterministic payload encoders + transcript generator (seed-fixed; no external
  * data — FIXTURES.md §§2-4, 6). Encoders are exact inverses of the extractor on
  * well-formed input: encode(text) |> extract == text, which is the basis of the
  * DuckDB-verifiable round-trip queries in graft.entry.ExtractionQueries.
  */
object Synth {

  val WordsPerLine = 8
  val WordsPerRun = 3
  val FontSize = 11.9552 // the reference sample's font size (docs/svg-syntax.md)
  val Leading = 13.55
  val StartY = 710.04

  /** Encode text as dialect-A SVG positioned glyph runs: split into lines of
    * `WordsPerLine` words, each line into runs of `WordsPerRun` words; glyph x
    * coordinates advance by Helvetica metric widths. Lines are contiguous runs
    * on one baseline (gap 0 → no fake space), so extraction returns lines joined
    * by "\n"; replacing "\n" with " " reproduces the input exactly when the input
    * has single-space word separators. */
  def encodeSvg(text: String): String = {
    val font = FontMetrics.Helvetica
    val words = text.split(" ", -1)
    val lines = words.grouped(WordsPerLine).map(_.mkString(" ")).toVector
    val runs = ArrayBuffer.empty[GlyphRun]
    var lineIdx = 0
    lines.foreach { line =>
      val y = StartY - lineIdx * Leading
      val matrix = Array(1.0, 0, 0, 1.0, 91.92, y)
      var x = 0.0
      // runs of WordsPerRun words; separator spaces stay attached to the
      // *following* run so every inter-run gap is exactly 0
      val lineWords = line.split(" ", -1)
      lineWords.grouped(WordsPerRun).zipWithIndex.foreach { case (chunk, ci) =>
        val runText = (if (ci == 0) "" else " ") + chunk.mkString(" ")
        if (runText.nonEmpty) {
          val xs = new Array[Double](runText.length)
          var i = 0
          while (i < runText.length) {
            xs(i) = x
            x += font.widths(runText.charAt(i).toInt) * FontSize / 1000.0
            i += 1
          }
          runs += GlyphRun(runText, xs, 0.0, "g_font_2", FontSize,
            "normal", "normal", "rgb(0,0,0)", matrix)
        }
      }
      lineIdx += 1
    }
    SvgEmitter.page(runs.toSeq)
  }

  /** Encode text as dialect-B HTML with known boilerplate around one main block.
    * Extraction returns exactly `text` (single main <p>, nav/sidebar/footer all
    * link-dense or structurally boilerplate). */
  def encodeHtml(text: String): String = {
    val t = SvgEmitter.xmlEncode(text).replace(">", "&gt;")
    s"""<html><head><title>doc</title><style>.x{color:red}</style></head><body>
       |<nav class="menu"><a href="/a">Home</a> <a href="/b">About</a> <a href="/c">More</a></nav>
       |<div id="content"><p>$t</p></div>
       |<div class="sidebar"><ul><li><a href="/1">link one</a></li><li><a href="/2">link two</a></li></ul></div>
       |<footer>&copy; 2026 Example Corp &middot; <a href="/tos">Terms</a></footer>
       |</body></html>""".stripMargin
  }

  /** Encode text as dialect-D Markdown: YAML front matter (dropped by the
    * extractor) then one paragraph whose words carry deterministic inline
    * decorations (bold / em / code / link on a fixed cycle); markdown
    * specials in the content are backslash-escaped so stripping is lossless.
    * Extraction returns exactly `text`. */
  def encodeMarkdown(text: String): String = {
    val words = text.split(" ", -1)
    val decorated = words.zipWithIndex.map { case (w0, i) =>
      val w = escapeMd(w0)
      if (w0.isEmpty) w
      else (i % 7) match {
        case 1 => s"**$w**"
        case 3 => s"*$w*"
        // code spans show escapes literally (CommonMark), so only decorate
        // words that need none; links need bracket/paren-free words
        case 5 if w == w0 => s"`$w`"
        case 6 if !w0.exists(c => c == '[' || c == ']' || c == '(' || c == ')') =>
          s"[$w](https://example.invalid/$i)"
        case _ => w
      }
    }
    "---\ntitle: doc\nsource: synth\n---\n\n" + decorated.mkString(" ")
  }

  private def escapeMd(w: String): String = {
    val sb = new StringBuilder(w.length + 4)
    w.foreach { c =>
      if ("\\`*_{}[]()#+-.!>".indexOf(c.toInt) >= 0) sb.append('\\')
      sb.append(c)
    }
    sb.toString
  }

  /** Encode text as dialect-C PDF content stream: one BT..ET per line group,
    * Tm for the first line, Td line advances, words joined in TJ arrays with
    * zero kerning. Evaluating with Helvetica metrics then reassembling lines
    * reproduces the input (same line split as encodeSvg). */
  def encodePdf(text: String): String = {
    val sb = new StringBuilder(text.length * 2)
    val lines = text.split(" ", -1).grouped(WordsPerLine).map(_.mkString(" ")).toVector
    sb.append("BT\n/F1 ").append(NumFmt.pf(FontSize)).append(" Tf\n")
    sb.append("1 0 0 1 91.92 ").append(NumFmt.pf(StartY)).append(" Tm\n")
    var first = true
    lines.foreach { line =>
      if (!first) sb.append("0 ").append(NumFmt.pf(-Leading)).append(" Td\n")
      first = false
      sb.append('(').append(escapePdfString(line)).append(") Tj\n")
    }
    sb.append("ET\n")
    sb.toString
  }

  def escapePdfString(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '(' => sb.append("\\(")
      case ')' => sb.append("\\)")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** What the extractor yields for an encoded payload: lines of WordsPerLine
    * words joined by \n. */
  def expectedLines(text: String): String =
    text.split(" ", -1).grouped(WordsPerLine).map(_.mkString(" ")).mkString("\n")

  /** Deterministic conv key for a doc id (shared by Spark side and oracle
    * SQL — keep in sync with the oracles in graft.entry). */
  def convId(docId: Long, convs: Int = 50): String = f"conv_${docId % convs}%04d"

  // --- seeded free-standing corpus (skew/bench fixture, FIXTURES.md §6) ---

  private val vocab: Array[String] =
    ("the of and a to in is for on with as by at from or an be this that it " +
      "spark scala data query table row column join filter group sort merge " +
      "window batch stream hash key value order part line customer vector").split(" ")

  /** xorshift64* — deterministic, platform-stable PRNG. */
  final class Rng(seed0: Long) {
    private var s: Long = if (seed0 == 0) 0x9e3779b97f4a7c15L else seed0
    def nextLong(): Long = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      s * 0x2545f4914f6cdd1dL
    }
    def nextInt(bound: Int): Int = {
      val v = (nextLong() >>> 1) % bound
      v.toInt
    }
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  /** Minimal n-page PDF (empty pages, objects 3..2+nPages) with arbitrary
    * extra CATALOG entries (e.g. `/Outlines 7 0 R /Names << /Dests 8 0 R >>`
    * or `/PageLabels << /Nums [0 << /S /r >>] >>`) and trailing objects
    * numbered from 3 + nPages (outline items, number-tree kids, ...). */
  def pdfWithCatalogExtra(nPages: Int, catalogExtra: String,
      extraObjs: Seq[PdfWriter.Body] = Nil): Array[Byte] = {
    val kids = (0 until nPages).map(i => s"${3 + i} 0 R").mkString(" ")
    val page: PdfWriter.Body = "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>"
    PdfWriter(Seq[PdfWriter.Body](s"<< /Type /Catalog /Pages 2 0 R $catalogExtra >>",
      s"<< /Type /Pages /Kids [$kids] /Count $nPages >>") ++ Seq.fill(nPages)(page) ++ extraObjs)
  }

  /** Deterministic attachment fixture: an /EmbeddedFiles name tree with a
    * backslash-laden /F filespec (Flate content), a UTF-16BE /UF filespec
    * (raw content), and an /EF-less filespec (content null). */
  def pdfWithAttachments(): Array[Byte] = {
    val raw = "hello attachment\n".getBytes(ISO_8859_1)
    val flateSrc = Array.tabulate[Byte](64)(i => ((i * 7 + 3) & 0xff).toByte)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(flateSrc)
    deflater.finish()
    val buf = new Array[Byte](256)
    val n = deflater.deflate(buf)
    deflater.end()
    // "file2.bin" as a UTF-16BE hex string for both the tree key and /UF
    val u16 = "FEFF" + "file2.bin".map(c => f"${c.toInt}%04X").mkString
    pdfWithCatalogExtra(1, "/Names << /EmbeddedFiles 4 0 R >>", Seq(
      s"<< /Names [(att1) 5 0 R <$u16> 6 0 R (noef) 7 0 R] >>",
      // value decodes to a\\b\c.txt -> FileSpec normalizes to a/b/c.txt
      "<< /Type /Filespec /F (a\\\\\\\\b\\\\c.txt) /EF << /F 9 0 R >> >>",
      s"<< /Type /Filespec /UF <$u16> /EF << /UF 8 0 R >> >>",
      "<< /Type /Filespec /F (orphan.txt) >>",
      PdfWriter.stream("", raw),
      PdfWriter.stream("/Filter /FlateDecode", buf.take(n))))
  }

  /** Deterministic document-JavaScript fixture: a /JavaScript name tree
    * (string /JS, stream /JS, one non-JavaScript action to skip) plus the
    * de-facto named Print OpenAction. */
  def pdfWithJavaScript(openActionJs: Boolean = false): Array[Byte] = {
    if (openActionJs)
      pdfWithCatalogExtra(1,
        "/OpenAction << /Type /Action /S /JavaScript /JS (open\\(\\);) >>", Nil)
    else {
      val js2 = "console.println('x');"
      pdfWithCatalogExtra(1,
        "/Names << /JavaScript 4 0 R >> " +
          "/OpenAction << /Type /Action /S /Named /N /Print >>", Seq(
          "<< /Names [(a) 5 0 R (b) 6 0 R (skip) 7 0 R] >>",
          "<< /S /JavaScript /JS (app.alert\\(1\\);) >>",
          "<< /S /JavaScript /JS 8 0 R >>",
          "<< /S /GoTo /D (x) >>",
          PdfWriter.stream("", js2.getBytes(ISO_8859_1))))
    }
  }

  /** Deterministic whitespace-normalization fixture: a simple font whose
    * /ToUnicode maps charcodes to NBSP / TAB / ideographic space / é, shown
    * as two text items — one non-ASCII (triggers the \s → 0x20 replace),
    * one pure-ASCII-plus-TAB (the fast scan stops at 0x09 < 0x20 too). */
  def pdfWithWhitespaceText(): Array[Byte] = {
    val cmap =
      """/CIDInit /ProcSet findresource begin
        |begincmap
        |5 beginbfchar
        |<41> <00A0>
        |<42> <0009>
        |<43> <3000>
        |<44> <00E9>
        |<45> <0045>
        |endbfchar
        |endcmap
        |end""".stripMargin
    val content = "BT /F1 12 Tf 72 700 Td (DAEBC) Tj 0 -40 Td (EBE) Tj ET"
    PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /Font << /F1 4 0 R >> >> /Contents 6 0 R >>",
      "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica " +
        "/FirstChar 65 /LastChar 69 /Widths [500 500 500 500 500] " +
        "/ToUnicode 5 0 R >>",
      PdfWriter.stream("", cmap.getBytes(ISO_8859_1)),
      PdfWriter.stream("", content.getBytes(ISO_8859_1))))
  }

  final case class SynthTurn(conv_id: String, turn_idx: Int, role: String,
      text: String, tool: String, tsMillis: Long, expected: String)

  /** Generate a deterministic transcript corpus: `convs` conversations with
    * Zipf-ish sizes plus one mega-conversation of `megaTurns` turns (skew axis),
    * payload dialect mix A/B/C ≈ 60/30/10. */
  def corpus(seed: Long, convs: Int, avgTurns: Int, megaTurns: Int): Iterator[SynthTurn] = {
    val baseTs = 1735689600000L // 2025-01-01T00:00:00Z, fixed epoch
    (0 until convs).iterator.flatMap { ci =>
      val rng = new Rng(seed ^ (ci * 0x9e3779b97f4a7c15L) ^ 0x1234567L)
      val nTurns =
        if (ci == 0) megaTurns
        else math.max(1, (avgTurns / (1.0 + 3.0 * rng.nextDouble())).toInt * (1 + rng.nextInt(3)))
      val cid = f"c$ci%06d"
      (0 until nTurns).iterator.map { ti =>
        val nWords = 5 + rng.nextInt(60)
        val text = Array.fill(nWords)(vocab(rng.nextInt(vocab.length))).mkString(" ")
        val dialect = rng.nextInt(10)
        val (payload, expected) =
          if (dialect < 6) (encodeSvg(text), expectedLines(text))
          else if (dialect < 9) (encodeHtml(text), text)
          else (encodePdf(text), expectedLines(text))
        val role = if (ti % 2 == 0) "user" else "assistant"
        SynthTurn(cid, ti, role, payload, "", baseTs + ci * 86400000L + ti * 1000L, expected)
      }
    }
  }
}
