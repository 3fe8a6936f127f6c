package graft.eval

import graft.core.{GlyphRun, NumFmt}
import graft.lex.Tok

import scala.collection.mutable.ArrayBuffer

final case class EvalResult(runs: Vector[GlyphRun], errors: Int)

/** Resource context for a content stream: font lookups and Form XObjects
  * (SURVEY.md §2.2 E8/R7 — the reference's resources dict + buildFormXObject,
  * pdf.combined.js:45075-45121). */
trait PageResources {
  def font(name: String): FontSpec
  def form(name: String): Option[FormXObject] = None
  /** True when the XObject is a raster image (SURVEY.md §2.2 E9): the text
    * items treat its paint as an item break; pixels are never decoded. */
  def isImage(name: String): Boolean = false
  /** ExtGState /Font entry: (font, size) when the graphics-state dict sets one
    * (SURVEY.md §2.2 E6 — gs expansion, pdf.combined.js:45123-45180). */
  def gsFont(name: String): Option[(FontSpec, Double)] = None
  /** Named color space from the resource dict's /ColorSpace entry
    * (SURVEY.md §2.2 E5 — ColorSpace.parse, pdf.combined.js:40554+). */
  def colorSpace(name: String): Option[ColorSpaceModel] = None
}

/** A Form XObject ready to execute: decoded content, its own resource context,
  * the /Matrix to compose onto the CTM, and a stable identity key for the
  * recursion guard (the reference memoizes XObjects the same way, 46318-46370). */
final case class FormXObject(
    content: Array[Byte], resources: PageResources, matrix: Array[Double], key: String)

object PageResources {
  def fromMap(m: Map[String, FontSpec]): PageResources = new PageResources {
    def font(name: String): FontSpec = FontMetrics.resolve(name, m)
  }
  val empty: PageResources = fromMap(Map.empty)
}

/** Content-stream → positioned glyph runs.
  *
  * Reads the stream through [[OpReader]] (EvaluatorPreprocessor.read: operand
  * collection, arity tolerance, unknown-command skip) and runs the SVGGraphics
  * text operators over the accepted ones (beginText/setTextMatrix/
  * moveText/showText — pdf.combined.js:20256-20431) on a [[TextState]], as
  * `graft.extract.TextItems` does; the show arms, run breaks, fill colors,
  * `Do` and counted bad operands below are the tspan surface's own.
  * Run-break semantics match the reference exactly: `Tm`/`Td`/`TD`/`T*`/`'`/
  * `"`/`Tf`/fill-color changes each start a new tspan; consecutive `Tj`
  * extend one.
  *
  * Purely sequential per content stream: the `extract_turn` kernel calls it
  * once per fragment row and `PdfDocument.evalPage` once per page, and it
  * allocates little beyond the output runs. `errors` counts skipped
  * operators, operands of the wrong type and unbalanced restores.
  */
object ContentEvaluator {

  /** A content-stream fragment with no resources: every font name resolves
    * to the core metrics (the `extract_turn` fragment dialect). */
  def evaluate(content: Array[Byte]): EvalResult =
    evaluatePage(content, PageResources.empty)

  /** `fakeSpaces = true` reconstructs inter-word spaces the way the reference
    * CLI's golden output does (SURVEY.md §2.9 R3/R5): a single leading space on
    * a new tspan whose same-line gap from the previous show is ≥ 0.3×spaceWidth,
    * and 1/round(gap/spaceWidth) spaces at TJ kern gaps ≥ 0.3×/1.5×spaceWidth
    * (SPACE_FACTOR/MULTI_SPACE_FACTOR, pdf.combined.js:45930-45932 + the
    * addFakeSpaces discipline at 46138-46150). Off by default: the synthetic
    * dialect payloads carry real space glyphs, and the line assembler derives
    * spacing from x-coordinates instead. */
  def evaluatePage(content: Array[Byte], pageResources: PageResources,
      fakeSpaces: Boolean = false,
      initialCtm: Array[Double] = NumFmt.Identity): EvalResult = {
    val st = new TextState
    st.ctm = initialCtm
    val stack = ArrayBuffer.empty[TextState]
    val runs = Vector.newBuilder[GlyphRun]

    // current tspan accumulation
    val sb = new StringBuilder
    val xcoords = new DoubleBuffer
    var tspanY = 0.0
    var tspanMatrix: Array[Double] = NumFmt.Identity
    var tspanFont: FontSpec = st.font
    var tspanSize = 0.0
    var tspanFill = st.fillColor

    def flush(): Unit = {
      if (sb.nonEmpty) {
        runs += GlyphRun(
          sb.toString, xcoords.toArray, tspanY,
          tspanFont.family, tspanSize,
          if (tspanFont.italic) "italic" else "normal",
          if (tspanFont.bold) "bold" else "normal",
          tspanFill, tspanMatrix)
      }
      sb.setLength(0)
      xcoords.clear()
    }

    // one show op = a Tj string or a TJ item sequence; `x` (the intra-op
    // advance accumulator, reference showText local) threads through the items.
    // Glyph iteration is allocation-free: widths looked up per char, no glyph
    // objects.
    var showX = 0.0
    def showBegin(): Unit = showX = 0.0

    // fake-space state: text-space pen position after the previous show, valid
    // only within an unchanged (ctm, textMatrix) frame
    var lastEndX, lastEndY = 0.0
    var lastCtm: Array[Double] = null
    var lastTm: Array[Double] = null
    var prevSw = 0.0
    def spaceWidthUnits: Double = {
      val est = st.font.spaceWidthEst
      (if (est.isNaN) st.font.widths(' '.toInt) else est) * 0.001 * st.fontSize
    }
    def appendSpaces(n: Int, atX: Double): Unit = {
      var k = 0
      while (k < n) { xcoords += atX; sb.append(' '); k += 1 }
    }

    def showString(str: String): Unit = {
      if (st.fontSize == 0) return // early skip (pdf.combined.js:20315-20317)
      val textHScale = st.textHScale * st.fontDirection
      val widthAdvanceScale = st.fontSize * st.font.fontMatrix0
      val widths = st.font.widths
      val glyphText = st.font.glyphText
      // fake spaces are a horizontal-writing reconstruction (the golden
      // generator's rule); vertical runs never receive them
      if (fakeSpaces && !st.font.vertical && sb.isEmpty && str.nonEmpty && lastCtm != null) {
        val sameFrame = java.util.Arrays.equals(lastCtm, st.ctm) &&
          java.util.Arrays.equals(lastTm, st.textMatrix)
        val curX = st.x + showX * textHScale
        val sw = spaceWidthUnits
        // single leading space on a new tspan after a positive x-gap within the
        // same (ctm, textMatrix) frame — the golden corpus shows the generator
        // compared x only (column jumps with Δy also get exactly one space).
        // Fonts with no estimable space width (symbol subsets) fall back to the
        // previous show's space width, same baseline only.
        val swEff = if (sw > 0) sw else if (st.y == lastEndY) prevSw else 0.0
        if (sameFrame && swEff > 0 && (curX - lastEndX) >= 0.3 * swEff) appendSpaces(1, lastEndX)
      }
      if (glyphText eq FontSpec.IdentityChar) {
        // identity hot path (synthetic dialect payloads): one xcoord per char,
        // the text appended whole, zero per-glyph allocation — this loop
        // dominates extraction throughput
        var i = 0
        while (i < str.length) {
          val c = str.charAt(i)
          xcoords += st.x + showX * textHScale
          // `(glyph.isSpace ? wordSpacing : 0) + charSpacing`, pdf.combined.js:29772
          val spacing = st.charSpacing + (if (c == ' ') st.wordSpacing else 0.0)
          showX += widths(c.toInt) * widthAdvanceScale + spacing * st.fontDirection
          i += 1
        }
        sb.append(str)
      } else {
        // mapped fonts: composite fonts consume 2 bytes per charcode (Identity
        // CMaps); word spacing only ever applies to the 1-byte 0x20 charcode
        // (charsToGlyphs, pdf.combined.js:36697-36714)
        val wide = st.font.wideChars
        val step = if (wide) 2 else 1
        var i = 0
        while (i < str.length) {
          val c: Int =
            if (wide) {
              val hi = str.charAt(i).toInt & 0xff
              val lo = if (i + 1 < str.length) str.charAt(i + 1).toInt & 0xff else 0
              (hi << 8) | lo
            } else str.charAt(i).toInt
          // glyph text may expand to several chars (ligature /ToUnicode targets);
          // keep one xcoord per emitted char so xs.length == text.length holds
          val g = glyphText(c)
          val gx = st.x + showX * textHScale
          var k = 0
          while (k < g.length) { xcoords += gx; k += 1 }
          val spacing = st.charSpacing + (if (!wide && c == ' ') st.wordSpacing else 0.0)
          showX += widths(c) * widthAdvanceScale + spacing * st.fontDirection
          sb.append(g)
          i += step
        }
      }
    }
    def showKern(n: Double): Unit =
      if (st.fontSize != 0) {
        val adv = -n * st.fontSize * 0.001
        showX += adv
        if (fakeSpaces && !st.font.vertical && sb.nonEmpty && sb.charAt(sb.length - 1) != ' ' && adv > 0) {
          val sw = spaceWidthUnits
          if (sw > 0 && adv >= 0.3 * sw)
            appendSpaces(1, st.x + showX * (st.textHScale * st.fontDirection))
        }
      }
    def showEnd(): Unit = {
      if (st.fontSize == 0) return
      // vertical writing advances the pen in y, horizontal in x — the SVG
      // backend exactly (pdf.combined.js:20347-20351): the per-glyph loop is
      // identical (glyph widths, advancing xcoords, same TJ sign), only the
      // end-of-show pen update differs, and the tspan y attribute is set
      // AFTER the update (20355). The /W2 vmetric override is a canvas/
      // text-content-path behavior the tspan surface never sees.
      val adv = showX * (st.textHScale * st.fontDirection)
      if (st.font.vertical) st.y -= adv else st.x += adv
      if (fakeSpaces) {
        lastEndX = st.x; lastEndY = st.y
        lastCtm = st.ctm; lastTm = st.textMatrix
        prevSw = spaceWidthUnits
      }
      // tspan attrs are (re)set at every showText; record state of last one
      tspanY = -st.y
      tspanMatrix = NumFmt.mul(st.ctm, st.textMatrix)
      tspanFont = st.font
      tspanSize = st.fontSize
      tspanFill = st.fillColor
    }
    def showText(s: String): Unit = { showBegin(); showString(s); showEnd() }

    def rgb(r: Double, g: Double, b: Double): String =
      s"rgb(${(r * 255).round},${(g * 255).round},${(b * 255).round})"

    /** Execute one content stream in the shared graphics/text state. Form
      * XObjects recurse here with their own resources; `active` keys guard
      * against reference cycles and `depth` bounds pathological nesting. */
    def exec(bytes: Array[Byte], res: PageResources, depth: Int, active: Set[String]): Int = {
      val reader = new OpReader(bytes)
      var errors = 0
      val skipped = reader.read { (cmd, args) =>
        def numArg(i: Int): Double = args(i) match {
          case Tok.Num(v) => v
          case _ => errors += 1; 0.0
        }
        def show(arg: Tok): Unit = arg match {
          case Tok.Str(s) => showText(s)
          case _ => errors += 1
        }
        cmd match {
          case "q" => stack += st.snapshot
          case "Q" =>
            if (stack.nonEmpty) {
              flush() // restore may change fill/font/position: close the tspan
              st.restoreFrom(stack.remove(stack.length - 1))
            } else errors += 1 // unbalanced restore tolerated (45891-45895)
          case "cm" | "TL" | "Tc" | "Tw" | "Tz" | "Ts" => errors += st.exec(cmd, args)
          case "BT" | "Tm" | "Td" | "TD" | "T*" => errors += st.exec(cmd, args); flush()
          case "ET" => flush()
          case "Tf" =>
            (args(0), args(1)) match {
              case (Tok.Name(n), Tok.Num(sz)) => flush(); st.setFont(res.font(n), sz)
              case _ => errors += 1
            }
          case "Tj" => show(args(0))
          case "'" => st.nextLine(); flush(); show(args(0))
          case "\"" =>
            st.wordSpacing = numArg(0); st.charSpacing = numArg(1)
            st.nextLine(); flush()
            show(args(2))
          case "TJ" =>
            // args hold "[" item* "]": strings shown, numbers kern —
            // one show op (PartialEvaluator TJ flattening, 45710-45726)
            showBegin()
            args.foreach {
              case Tok.Str(s) => showString(s)
              case Tok.Num(n) => showKern(n)
              case _ => ()
            }
            showEnd()
          // rg/g/k also SELECT the device space (the reference sets
          // fillColorSpace on these ops, pdf.combined.js:45762-45785) —
          // without the reset a stale resolved /Indexed or /Separation
          // from an earlier cs would misread later sc operands
          case "rg" =>
            flush(); st.fillCS = ColorSpaceModel.RGB
            st.fillColor = rgb(numArg(0), numArg(1), numArg(2))
          case "g" =>
            flush(); st.fillCS = ColorSpaceModel.Gray
            val v = numArg(0); st.fillColor = rgb(v, v, v)
          case "k" =>
            flush(); st.fillCS = ColorSpaceModel.CMYK
            val (c, m, yy, kk) = (numArg(0), numArg(1), numArg(2), numArg(3))
            st.fillColor = rgb((1 - c) * (1 - kk), (1 - m) * (1 - kk), (1 - yy) * (1 - kk))
          case "cs" =>
            // select the fill color space: device names inline, anything
            // else resolved from the resource dict (E5; the reference
            // keeps a ColorSpace object on the graphics state)
            args(0) match {
              case Tok.Name(n) =>
                st.fillCS =
                  if (n == "Pattern") null
                  else ColorSpaceModel.fromName(n).orElse(res.colorSpace(n)).orNull
              case _ => errors += 1
            }
          case "sc" | "scn" =>
            // resolved color space when cs named one; otherwise the
            // component-count heuristic (SURVEY.md §2.2 E5): 1 → gray,
            // 3 → RGB, 4 → CMYK; name operands (pattern fills) leave the
            // color unchanged
            val nums = args.collect { case Tok.Num(v) => v }
            if (nums.length == args.length && nums.nonEmpty) {
              if (st.fillCS != null) {
                ColorSpaceModel.toRgb(st.fillCS, nums.toArray).foreach { case (r, g, b) =>
                  flush(); st.fillColor = rgb(r, g, b)
                }
              } else nums.length match {
                case 1 => flush(); st.fillColor = rgb(nums(0), nums(0), nums(0))
                case 3 => flush(); st.fillColor = rgb(nums(0), nums(1), nums(2))
                case 4 =>
                  flush()
                  st.fillColor = rgb((1 - nums(0)) * (1 - nums(3)),
                    (1 - nums(1)) * (1 - nums(3)), (1 - nums(2)) * (1 - nums(3)))
                case _ => ()
              }
            }
          case "gs" =>
            args(0) match {
              case Tok.Name(n) =>
                res.gsFont(n).foreach { case (f, size) => flush(); st.setFont(f, size) }
              case _ => ()
            }
          case "Do" =>
            args(0) match {
              case Tok.Name(n) =>
                res.form(n) match {
                  case Some(fx) if depth < 12 && !active.contains(fx.key) =>
                    // buildFormXObject: save → transform(/Matrix) → run →
                    // restore (pdf.combined.js:45075-45121); the stack is
                    // truncated afterwards so an unbalanced q/Q inside the
                    // form cannot leak outer state away
                    flush()
                    val snapshot = st.snapshot
                    val stackDepth = stack.length
                    st.ctm = NumFmt.mul(st.ctm, fx.matrix)
                    errors += exec(fx.content, fx.resources, depth + 1, active + fx.key)
                    flush()
                    if (stack.length > stackDepth) stack.remove(stackDepth, stack.length - stackDepth)
                    st.restoreFrom(snapshot)
                  case _ => () // image or unknown XObject: paints no text
                }
              case _ => errors += 1
            }
          case _ => () // consumed: stroke colors, paths, clipping, marked content…
        }
      }
      errors + skipped
    }

    val errors = exec(content, pageResources, 0, Set.empty)
    flush()
    EvalResult(runs.result(), errors)
  }
}

/** A growable buffer of primitive doubles: the evaluator's per-glyph x
  * coordinates, appended without boxing. */
private[eval] final class DoubleBuffer {
  private var elems = new Array[Double](64)
  private var size = 0

  def +=(x: Double): Unit = {
    if (size == elems.length) elems = java.util.Arrays.copyOf(elems, size * 2)
    elems(size) = x
    size += 1
  }
  def clear(): Unit = size = 0
  def toArray: Array[Double] = java.util.Arrays.copyOf(elems, size)
}
