package graft.svg

import graft.core.{GlyphRun, NumFmt}

/** Serializes glyph runs into the reference's SVG output dialect, byte-exact:
  * tspan attribute set from SVGGraphics.showText (pdf.combined.js:20352-20378),
  * `pf`/`pm` number formatting (19948-19990), and the domstubs xmlEncode escape
  * set `& < " \n \r \t` — NOT `>` or `'` (node/domstubs.js:15-53).
  *
  * Used for round-trip tests and for synthesizing dialect-A transcript payloads.
  */
object SvgEmitter {
  import NumFmt.{pf, pm}

  def xmlEncode(s: String): String = {
    var i = 0
    var needs = false
    while (i < s.length && !needs) {
      val c = s.charAt(i)
      needs = c == '&' || c == '<' || c == '"' || c == '\n' || c == '\r' || c == '\t'
      i += 1
    }
    if (!needs) return s
    val buf = new StringBuilder(s.length + 16)
    i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&' => buf.append("&amp;")
        case '<' => buf.append("&lt;")
        case '"' => buf.append("&quot;")
        case '\n' => buf.append("&#xA;")
        case '\r' => buf.append("&#xD;")
        case '\t' => buf.append("&#x9;")
        case c => buf.append(c)
      }
      i += 1
    }
    buf.toString
  }

  def tspan(r: GlyphRun): String = {
    val sb = new StringBuilder(128)
    sb.append("<svg:tspan")
    sb.append(" x=\"").append(r.xs.map(pf).mkString(" ")).append('"')
    sb.append(" y=\"").append(pf(r.y)).append('"')
    sb.append(" font-family=\"").append(r.fontFamily).append('"')
    sb.append(" font-size=\"").append(pf(r.fontSize)).append("px\"")
    if (r.fontStyle != "normal") sb.append(" font-style=\"").append(r.fontStyle).append('"')
    if (r.fontWeight != "normal") sb.append(" font-weight=\"").append(r.fontWeight).append('"')
    if (r.fill != "rgb(0,0,0)") sb.append(" fill=\"").append(r.fill).append('"')
    sb.append('>').append(xmlEncode(r.text)).append("</svg:tspan>")
    sb.toString
  }

  def text(r: GlyphRun): String =
    s"""<svg:text transform="${pm(r.matrix)} scale(1, -1)" xml:space="preserve">${tspan(r)}</svg:text>"""

  /** Multi-page stitch (SURVEY.md §2.8 C2): one svg:svg element per page, in
    * document order — GlyphRunParser recovers the page index from the element
    * count, matching the reference CLI's combined-SVG structure loosely (its
    * y-offset stacking is presentation-only). */
  def document(pages: Seq[Seq[GlyphRun]], width: Double = 612, height: Double = 792): String =
    pages.map(p => page(p, width, height)).mkString("\n")

  /** One page of runs → reference-shaped SVG document (pdfToSvg.js page shell:
    * flip-Y root group, width/height/viewBox from the viewport). */
  def page(runs: Seq[GlyphRun], width: Double = 612, height: Double = 792): String = {
    val sb = new StringBuilder(runs.length * 160 + 256)
    sb.append("<svg:svg xmlns:xlink=\"http://www.w3.org/1999/xlink\"")
      .append(" xmlns:svg=\"http://www.w3.org/2000/svg\" version=\"1.1\"")
      .append(" width=\"").append(pf(width)).append("px\"")
      .append(" height=\"").append(pf(height)).append("px\"")
      .append(" viewBox=\"0 0 ").append(pf(width)).append(' ').append(pf(height)).append("\">\n")
    sb.append("<svg:g transform=\"matrix(1 0 0 -1 0 ").append(pf(height)).append(")\">\n")
    runs.foreach { r => sb.append(text(r)).append('\n') }
    sb.append("</svg:g>\n</svg:svg>\n")
    sb.toString
  }
}
