package graft.extract

import graft.core.{GlyphRun, Span}

/** Reassembles reading-order lines from positioned glyph runs.
  *
  * Generalizes the reference's reading-order text path (getTextContent,
  * pdf.combined.js:45900-46406): runs are grouped into lines by quantized
  * page-space baseline y, ordered top-to-bottom then left-to-right, and
  * word gaps between runs on a line are inferred geometrically with the
  * reference's fake-space factors — gap ≥ 0.3×spaceWidth → one space,
  * ≥ 1.5×spaceWidth → round(gap/spaceWidth) spaces (constants at
  * pdf.combined.js:45930-45932, addFakeSpaces 46138-46150).
  */
object LineAssembler {

  final case class Assembled(text: String, spans: Seq[Span], lines: Int)

  private val SpaceFactor = 0.3
  private val MultiSpaceFactor = 1.5
  private val MultiSpaceFactorMax = 4.0

  def assemble(runs: Seq[GlyphRun], lineSep: String = "\n"): Assembled = {
    if (runs.isEmpty) return Assembled("", Nil, 0)

    // each run placed on the page: left and right edge x, baseline y
    val rs = runs.toArray
    val n = rs.length
    val x0s, x1s, ys, scales = new Array[Double](n)
    val mono = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val r = rs(i)
      mono(i) = isMonospace(r.fontFamily)
      scales(i) = r.scale
      val x0 = if (r.xs.nonEmpty) r.xs(0) else 0.0
      // right edge: last glyph x + its metric advance (exact for payloads built
      // with our metrics-only fonts; close enough elsewhere — the thresholds
      // below have 0.3×spaceWidth slack, as the reference's do)
      val lastAdvance =
        if (r.text.nonEmpty) widthOf(mono(i), r.text.last) * r.fontSize / 1000.0
        else 0.0
      val x1 = (if (r.xs.nonEmpty) r.xs.last else 0.0) + lastAdvance
      // the text-space baseline point mapped through the run's matrix
      val m = r.matrix
      val ty = -r.y
      x0s(i) = m(0) * x0 + m(2) * ty + m(4)
      x1s(i) = m(0) * x1 + m(2) * ty + m(4)
      ys(i) = m(1) * x1 + m(3) * ty + m(5)
      i += 1
    }

    // cluster lines on quantized baseline y (tolerance: 40% of median font size)
    val sizes = new Array[Double](n)
    i = 0
    while (i < n) { sizes(i) = rs(i).fontSize * scales(i); i += 1 }
    java.util.Arrays.sort(sizes)
    val tol = math.max(0.1, sizes(n / 2) * 0.4)

    // stable grouping: sort by (page, y), start a new line when the gap
    // exceeds tol; line k is byY(lineStart(k) until lineStart(k + 1))
    val pages = new Array[Int](n)
    i = 0
    while (i < n) { pages(i) = rs(i).page; i += 1 }
    val byY = Array.tabulate[Integer](n)(Integer.valueOf)
    stableSort(byY, 0, n, pages, ys)
    val lineStart = new Array[Int](n + 1)
    var lineCount = 0
    var curY = Double.NaN
    var curPage = -1
    i = 0
    while (i < n) {
      val p: Int = byY(i)
      if (lineCount == 0 || rs(p).page != curPage || math.abs(ys(p) - curY) > tol) {
        curPage = rs(p).page
        lineStart(lineCount) = i
        lineCount += 1
        curY = ys(p)
      } else {
        // drift the cluster center slowly toward new members
        val members = i - lineStart(lineCount - 1) + 1
        curY = (curY * (members - 1) + ys(p)) / members
      }
      i += 1
    }
    lineStart(lineCount) = n

    // reading order: page index ascending, then page y descending = top of page
    // first for y-up coordinates (the SVG page shell flips y; runs carry
    // text-space matrices where larger y is higher on the page), then x
    // ascending within the line.
    val linePage = new Array[Int](lineCount)
    val lineNegTop = new Array[Double](lineCount)
    var k = 0
    while (k < lineCount) {
      linePage(k) = rs(byY(lineStart(k))).page
      var top = ys(byY(lineStart(k)))
      var j = lineStart(k) + 1
      while (j < lineStart(k + 1)) {
        val y = ys(byY(j))
        if (java.lang.Double.compare(top, y) < 0) top = y
        j += 1
      }
      lineNegTop(k) = -top
      stableSort(byY, lineStart(k), lineStart(k + 1), pages, x0s) // one page per line
      k += 1
    }
    val ordered = Array.tabulate[Integer](lineCount)(Integer.valueOf)
    stableSort(ordered, 0, lineCount, linePage, lineNegTop)

    val out = new StringBuilder
    val spans = Vector.newBuilder[Span]
    ordered.foreach { line =>
      if (out.nonEmpty) out.append(lineSep)
      var prevEnd = Double.NaN
      var j = lineStart(line)
      while (j < lineStart(line + 1)) {
        val p: Int = byY(j)
        val r = rs(p)
        if (!prevEnd.isNaN) {
          val gap = x0s(p) - prevEnd
          val spaceWidth = widthOf(mono(p), ' ') * r.fontSize * scales(p) / 1000.0
          if (spaceWidth > 0 && gap >= SpaceFactor * spaceWidth) {
            // R1/R5 (reference 46008-46014, 46276-46299): a gap above
            // 4×spaceWidth on a non-monospace font is a text-RUN BREAK (a
            // separate item), not a stretch of fake spaces — and the
            // reference's own flat-text rendering joins items with one space
            // (getinfo.js:55). Monospace fonts "fake as much space as
            // needed" (textRunBreakAllowed = !isMonospace).
            val spaces =
              if (gap < MultiSpaceFactor * spaceWidth) 1
              else if (!mono(p) && gap > MultiSpaceFactorMax * spaceWidth) 1 // item break
              else math.max(1, math.round(gap / spaceWidth).toInt)
            var s = 0
            while (s < spaces) { out.append(' '); s += 1 }
          }
        }
        val start = out.length
        out.append(r.text)
        spans += Span(start, out.length, "run")
        prevEnd = x1s(p)
        j += 1
      }
    }
    Assembled(out.toString, spans.result(), lineCount)
  }

  /** Sorts `idx(from until until)` by `(major(i), minor(i))`, ints and
    * doubles compared like `Integer.compare` and `java.lang.Double.compare`,
    * keeping equal keys in their order (`Arrays.sort` on objects is stable):
    * the order of Scala's `sortBy` on an `(Int, Double)` key. */
  private def stableSort(idx: Array[Integer], from: Int, until: Int,
      major: Array[Int], minor: Array[Double]): Unit =
    java.util.Arrays.sort(idx, from, until, (a: Integer, b: Integer) => {
      val c = Integer.compare(major(a), major(b))
      if (c != 0) c else java.lang.Double.compare(minor(a), minor(b))
    })

  /** Glyph advance in 1/1000 em: Courier-family fonts are monospaced 600; all
    * others use the Helvetica core-metrics table (metrics-only model, §2.5 F2). */
  private def widthOf(monospace: Boolean, c: Char): Double =
    if (monospace) 600.0
    else graft.eval.FontMetrics.Helvetica.widths(c.toInt)

  private def isMonospace(family: String): Boolean =
    family.contains("Courier") || family.contains("Mono")
}
