package graft.svg

import graft.core.{GlyphRun, NumFmt}

/** Parses the reference's SVG output dialect back into positioned glyph runs.
  *
  * Hand-rolled forward scanner (no XML library): finds `svg:text`/`svg:tspan`
  * elements in document order, tracks the enclosing text transform, decodes the
  * xmlEncode entity set plus the common extras, and splits the space-joined
  * per-glyph `x` array. Document order is extraction order (FIXTURES.md §2).
  *
  * Tolerant by design (north-star: never fail the row) — malformed markup yields
  * the runs parsed so far plus an error count.
  */
object GlyphRunParser {

  final case class Parsed(runs: Vector[GlyphRun], errors: Int)

  /** Mutable per-element attribute holder — one per parse() call, reset per tag
    * (the parser is the hottest allocation site at 32 threads; no Map per tspan). */
  private final class Attrs {
    // numeric attrs are kept as (start, end) ranges into the payload — the x
    // attribute alone is ~half the payload, and substring+decode of it doubled
    // the parse cost
    var xStart, xEnd = -1
    var yStart, yEnd = -1
    var sizeStart, sizeEnd = -1
    var fontFamily: String = null
    var fontStyle: String = null
    var fontWeight: String = null
    var fill: String = null
    var transform: String = null
    def reset(): Unit = {
      xStart = -1; yStart = -1; sizeStart = -1
      fontFamily = null; fontStyle = null; fontWeight = null
      fill = null; transform = null
    }
  }

  def parse(svg: String): Parsed = {
    val runs = Vector.newBuilder[GlyphRun]
    var errors = 0
    var i = 0
    var textMatrix: Array[Double] = NumFmt.Identity
    val n = svg.length
    val attrs = new Attrs
    var page = -1 // first <svg:svg> brings it to 0; headerless fragments stay page 0

    while (i < n) {
      val lt = svg.indexOf('<', i)
      if (lt < 0) { i = n }
      else if (svg.startsWith("<svg:svg", lt)) {
        page += 1
        val gt = svg.indexOf('>', lt)
        i = if (gt < 0) n else gt + 1
      } else if (svg.startsWith("<svg:text", lt)) {
        attrs.reset()
        val end = parseAttrsInto(svg, lt + 9, attrs)
        textMatrix =
          if (attrs.transform != null) parseTransform(attrs.transform) else NumFmt.Identity
        i = end
      } else if (svg.startsWith("<svg:tspan", lt)) {
        attrs.reset()
        val tagEnd = parseAttrsInto(svg, lt + 10, attrs)
        val close = svg.indexOf("</svg:tspan>", tagEnd)
        if (close < 0) { errors += 1; i = n }
        else {
          val text = xmlDecode(svg.substring(tagEnd, close))
          if (text.nonEmpty) {
            val xs =
              if (attrs.xStart >= 0) parseDoublesRange(svg, attrs.xStart, attrs.xEnd)
              else Array.empty[Double]
            val y =
              if (attrs.yStart >= 0) parseOneDouble(svg, attrs.yStart, attrs.yEnd) else 0.0
            val size =
              if (attrs.sizeStart >= 0) {
                var e = attrs.sizeEnd
                if (e - 2 >= attrs.sizeStart && svg.charAt(e - 1) == 'x' && svg.charAt(e - 2) == 'p') e -= 2
                parseOneDouble(svg, attrs.sizeStart, e)
              } else 0.0
            runs += GlyphRun(
              text, xs, y,
              if (attrs.fontFamily != null) attrs.fontFamily else "", size,
              if (attrs.fontStyle != null) attrs.fontStyle else "normal",
              if (attrs.fontWeight != null) attrs.fontWeight else "normal",
              if (attrs.fill != null) attrs.fill else "rgb(0,0,0)",
              textMatrix, math.max(page, 0))
          }
          i = close + 12
        }
      } else {
        // skip any other tag
        val gt = svg.indexOf('>', lt)
        i = if (gt < 0) n else gt + 1
      }
    }
    Parsed(runs.result(), errors)
  }

  /** Parse attributes from after the tag name to the closing '>', storing only
    * the attributes extraction needs (in-place name matching, no Map).
    * Returns the index just past '>'. */
  private def parseAttrsInto(s: String, from: Int, out: Attrs): Int = {
    var i = from
    val n = s.length
    var done = false
    while (!done && i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      if (i >= n || s.charAt(i) == '>') { done = true; if (i < n) i += 1 }
      else if (s.charAt(i) == '/') { i += 1 } // self-closing
      else {
        val eq = s.indexOf('=', i)
        val gt = s.indexOf('>', i)
        if (eq < 0 || (gt >= 0 && gt < eq)) {
          // valueless attribute (or tag end before any '='): skip to tag end
          done = true
          i = if (gt < 0) n else gt + 1
        } else {
          val nameStart = i
          var nameEnd = eq
          while (nameEnd > nameStart && Character.isWhitespace(s.charAt(nameEnd - 1))) nameEnd -= 1
          var j = eq + 1
          while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
          if (j < n && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
            val q = s.charAt(j)
            val end = s.indexOf(q, j + 1)
            if (end < 0) { done = true; i = n }
            else {
              val len = nameEnd - nameStart
              @inline def is(name: String): Boolean =
                len == name.length && s.regionMatches(nameStart, name, 0, len)
              @inline def value(): String = xmlDecode(s.substring(j + 1, end))
              if (is("x")) { out.xStart = j + 1; out.xEnd = end }
              else if (is("y")) { out.yStart = j + 1; out.yEnd = end }
              else if (is("font-size")) { out.sizeStart = j + 1; out.sizeEnd = end }
              else if (is("font-family")) out.fontFamily = value()
              else if (is("font-style")) out.fontStyle = value()
              else if (is("font-weight")) out.fontWeight = value()
              else if (is("fill")) out.fill = value()
              else if (is("transform")) out.transform = value()
              i = end + 1
            }
          } else { done = true; i = n }
        }
      }
    }
    i
  }

  /** Inverse of the reference's pm() short forms: "", scale(..), rotate(..),
    * translate(..), matrix(..); trailing " scale(1, -1)" (the Y flip on svg:text)
    * is recognized and dropped — run coordinates stay in text space. */
  def parseTransform(t0: String): Array[Double] = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val t = t0.trim
    var i = 0
    while (i < t.length) {
      val open = t.indexOf('(', i)
      if (open < 0) { i = t.length }
      else {
        val name = t.substring(i, open).trim
        val close = t.indexOf(')', open)
        if (close < 0) { i = t.length }
        else {
          val nums = parseDoubles(t.substring(open + 1, close).replace(',', ' '))
          parts += (name match {
            case "matrix" if nums.length == 6 => nums
            case "scale" if nums.length == 2 => Array(nums(0), 0, 0, nums(1), 0, 0)
            case "scale" if nums.length == 1 => Array(nums(0), 0, 0, nums(0), 0, 0)
            case "translate" if nums.length == 2 => Array(1, 0, 0, 1, nums(0), nums(1))
            case "rotate" if nums.length == 1 =>
              val a = math.toRadians(nums(0))
              Array(math.cos(a), math.sin(a), -math.sin(a), math.cos(a), 0, 0)
            case _ => NumFmt.Identity
          })
          i = close + 1
        }
      }
    }
    // drop ONLY the trailing Y flip the emitter appends to every svg:text —
    // an interior scale(1,-1) is a genuine mirrored text matrix and must stay
    val kept =
      if (parts.nonEmpty && parts.last.sameElements(Array(1.0, 0, 0, -1.0, 0, 0)))
        parts.dropRight(1)
      else parts
    kept.foldLeft(NumFmt.Identity)((acc, p) => NumFmt.mul(acc, p))
  }

  private def parseDouble(s: String): Option[Double] =
    try Some(java.lang.Double.parseDouble(s.trim)) catch { case _: NumberFormatException => None }

  /** Allocation-free parse of space-separated decimals (the hot path: one x per
    * glyph). Handles sign/digits/fraction inline — the only shapes `pf` emits —
    * and falls back to Double.parseDouble for anything exotic (exponents). */
  def parseDoubles(s: String): Array[Double] = parseDoublesRange(s, 0, s.length)

  def parseOneDouble(s: String, from: Int, to: Int): Double = {
    val a = parseDoublesRange(s, from, to)
    if (a.nonEmpty) a(0) else 0.0
  }

  def parseDoublesRange(s: String, from: Int, to: Int): Array[Double] = {
    val n = to
    // count tokens for exact sizing
    var count = 0
    var i = from
    var inTok = false
    while (i < n) {
      val ws = s.charAt(i) <= ' '
      if (!ws && !inTok) { count += 1; inTok = true }
      if (ws) inTok = false
      i += 1
    }
    val out = new Array[Double](count)
    var k = 0
    i = from
    while (i < n && k < count) {
      while (i < n && s.charAt(i) <= ' ') i += 1
      val start = i
      var neg = false
      var c = if (i < n) s.charAt(i) else ' '
      if (c == '-') { neg = true; i += 1 } else if (c == '+') i += 1
      var intPart = 0L
      var digits = 0
      var simple = true
      while (i < n && { c = s.charAt(i); c >= '0' && c <= '9' } && digits < 18) {
        intPart = intPart * 10 + (c - '0'); i += 1; digits += 1
      }
      var value = intPart.toDouble
      if (i < n && s.charAt(i) == '.') {
        i += 1
        var frac = 0L
        var fracDigits = 0
        while (i < n && { c = s.charAt(i); c >= '0' && c <= '9' } && fracDigits < 18) {
          frac = frac * 10 + (c - '0'); i += 1; fracDigits += 1
        }
        value += frac / Pow10(fracDigits)
      }
      // token must end here for the fast path; otherwise re-parse the slice
      if (i < n && s.charAt(i) > ' ') simple = false
      if (!simple || digits == 0) {
        var j = i
        while (j < n && s.charAt(j) > ' ') j += 1
        parseDouble(s.substring(start, j)) match {
          case Some(v) => out(k) = v; k += 1
          case None => k += 1 // keep slot alignment; value 0.0
        }
        i = j
      } else {
        out(k) = if (neg) -value else value
        k += 1
      }
    }
    if (k == count) out else java.util.Arrays.copyOf(out, k)
  }

  private val Pow10: Array[Double] = Array.tabulate(19)(e => math.pow(10, e))

  /** Decode the xmlEncode set plus tolerated extras (&gt; &apos; &#NN; &#xNN;). */
  def xmlDecode(s: String): String = graft.core.Entities.decode(s, graft.core.Entities.Xml)
}
