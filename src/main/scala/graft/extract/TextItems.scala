package graft.extract

import graft.core.NumFmt
import graft.eval.{FontSpec, OpReader, PageResources, TextState}
import graft.lex.Tok

import scala.collection.mutable.ArrayBuffer

/** One reference-parity text-content item (the `getTextContent` unit). */
final case class TextItem(str: String, dir: String, fontFamily: String,
    width: Double, height: Double, fontName: String = "")

/** One styles-dict entry (`textContent.styles[loadedName]`,
  * pdf.combined.js:45952-45958): CSS-generic fallback family, em-normalized
  * ascent/descent (NaN ⇔ the reference's null), and the `vertical` key —
  * present only for composite fonts (properties.vertical is otherwise
  * undefined and JSON-omitted). */
final case class TextStyle(fontFamily: String, ascent: Double, descent: Double,
    vertical: Option[Boolean])

/** The reference's TEXT-CONTENT item surface (getTextContent,
  * pdf.combined.js:45900-46420) as an alternative to the generalized
  * y-cluster line assembly — SURVEY.md §2.7 R2/R4 at item-level parity.
  *
  * Item semantics mirrored exactly:
  *   - items flush on Tf, Ts, Tz, TL, TD, T*, Tm, BT, Do, gs and on a non-mergeable
  *     Td; q/Q/cm and ET do NOT flush (the reference handles them in its
  *     preprocessor, outside the text switch);
  *   - the same-line `Td` merge (46201-46217): horizontal font, ty == 0,
  *     advance = tx − ty in (0, 4·spaceWidth] → the move joins the current
  *     item, fake spaces bridging (tx − lastAdvanceWidth) − (ty −
  *     lastAdvanceHeight);
  *   - TJ number operands (46252-46301): advance beyond 4·spaceWidth breaks
  *     the run for non-monospace fonts, positive advances under it become
  *     fake spaces;
  *   - fake-space thresholds (45930-45932): < 0.3·spaceWidth nothing, <
  *     1.5·spaceWidth one space, else round(width / spaceWidth) spaces;
  *   - word spacing on the 1-byte 0x20 charcode adds fake spaces before the
  *     space glyph (46101-46107);
  *   - per-item bidi with an ltr/rtl direction (runBidiTransform, 46033).
  *
  * The content stream is read through `OpReader` onto `eval.TextState`, as
  * the evaluator's is; the show arms, flush points, `Do` arm and uncounted
  * bad operands below are item-specific. Items carry no position, so only
  * the linear part of the text and line matrices is read.
  *
  * Disclosed deltas (str-neutral for the committed fixture gates):
  * the Type3 tsm height adjustment only shapes item.height, not item.str.
  * The reference's full 1377-entry compatibility-normalization table is
  * carried verbatim (resource graft/normalized-unicodes.txt — round 6;
  * the Latin-ligature subset stopped sufficing once the parity gate grew
  * to every corpus page). Vertical items advance by /W2 vmetrics like the
  * reference. */
object TextItems {

  /** The full compatibility-normalization table the reference applies to
    * each glyph's unicode string before item assembly
    * (pdf.combined.js:16856-18250, applied at 46083-46086): 1377
    * single-char keys → replacement sequences (spacing diacritics to
    * space+combining mark, ligatures, presentation forms). NOT plain NFKD —
    * 69 entries deviate (e.g. U+01C4 → "DŽ", U+FB05 → "ſt") and ~1000
    * compat-decomposable chars are deliberately absent — so the mapping is
    * carried verbatim as a classpath resource. Lookup is keyed on the WHOLE
    * glyph string, and every key is one char, so multi-char /ToUnicode
    * expansions never normalize (same as the reference). */
  private[graft] val normalizedUnicodes =
    new graft.core.ResourceTable("/graft/normalized-unicodes.txt")({ lines =>
      val m = new java.util.HashMap[Character, String](2048)
      lines.foreach { line =>
        val sep = line.indexOf(';')
        val key = Integer.parseInt(line.substring(0, sep), 16).toChar
        val value = line.substring(sep + 1).split(' ')
          .map(h => Integer.parseInt(h, 16).toChar).mkString
        m.put(key, value)
      }
      m
    })

  private def normalize(s: String): String =
    if (s.length != 1) s
    else {
      val v = normalizedUnicodes.get.get(s.charAt(0))
      if (v == null) s else v
    }

  def extract(content: Array[Byte], res: PageResources,
      initialCtm: Array[Double] = NumFmt.Identity,
      normalizeWhitespace: Boolean = false): Vector[TextItem] =
    extractWithStyles(content, res, initialCtm, normalizeWhitespace)._1

  /** getTextContent's normalizeWhitespace option (replaceWhitespace,
    * pdf.combined.js:46022-46031): a str whose chars are all printable
    * ASCII (0x20-0x7F) passes through untouched (the fast scan stops at the
    * FIRST char outside that range — tabs included, since 0x09 < 0x20);
    * otherwise every JS-\s-class char becomes a plain 0x20 space. */
  private val JsWhitespace = java.util.regex.Pattern.compile(
    "[\\t\\n\\u000B\\f\\r \\u00a0\\u1680\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000\\ufeff]")

  private def replaceWhitespace(s: String): String = {
    var i = 0
    while (i < s.length && { val c = s.charAt(i); c >= 0x20 && c <= 0x7F }) i += 1
    if (i == s.length) s else JsWhitespace.matcher(s).replaceAll(" ")
  }

  /** Items plus the page's styles dict, keyed by loadedName in first-use
    * order (ensureTextContentItem registers a style the first time a font
    * initializes an item — a Tf that shows no text contributes nothing). */
  def extractWithStyles(content: Array[Byte], res: PageResources,
      initialCtm: Array[Double] = NumFmt.Identity,
      normalizeWhitespace: Boolean = false): (Vector[TextItem], Vector[(String, TextStyle)]) = {
    // plain buffer, NOT a Vector builder: the Do-replay cache reads slices
    // mid-build (builder result() mid-use is undefined for ReusableBuilder)
    val items = ArrayBuffer.empty[TextItem]
    val st = new TextState
    st.ctm = initialCtm
    val stack = ArrayBuffer.empty[TextState]

    // textContentItem mirror
    var initialized = false
    val buf = new StringBuilder
    var itemWidth, itemHeight = 0.0
    var vertical = false
    var lastAdvanceWidth, lastAdvanceHeight = 0.0
    var textAdvanceScale = 0.0
    var spaceWidth = 0.0
    var fakeSpaceMin = Double.PositiveInfinity
    var fakeMultiSpaceMin = Double.PositiveInfinity
    var fakeMultiSpaceMax = 0.0
    var textRunBreakAllowed = false
    var itemFamily = ""
    var itemFontName = ""
    val styles = ArrayBuffer.empty[(String, TextStyle)]
    val styleKeys = scala.collection.mutable.Set.empty[String]

    def fontOr(): FontSpec = {
      if (st.font == null) st.font = res.font("")
      st.font
    }
    // the size as `Tf` wrote it, sign included
    def fontSize: Double = st.fontSize * st.fontDirection

    def ensureItem(): Unit = {
      if (initialized) return
      val font = fontOr()
      vertical = font.vertical
      val tm = st.textMatrix
      // trm scale seeds the cross-advance dimension (46967-46987)
      val size = fontSize
      val tsm = Array(size * st.textHScale, 0.0, 0.0, size, 0.0, st.textRise)
      val trm = NumFmt.mul(st.ctm, NumFmt.mul(tm, tsm))
      if (!vertical) { itemWidth = 0.0; itemHeight = math.hypot(trm(2), trm(3)) }
      else { itemWidth = math.hypot(trm(0), trm(1)); itemHeight = 0.0 }
      val scaleLineX = math.hypot(st.lineMatrix(0), st.lineMatrix(1))
      val scaleCtmX = math.hypot(st.ctm(0), st.ctm(1))
      textAdvanceScale = scaleCtmX * scaleLineX
      lastAdvanceWidth = 0.0
      lastAdvanceHeight = 0.0
      val est = font.spaceWidthEst
      val swUnits = if (est.isNaN) font.widths(' '.toInt) else est
      val sw = swUnits / 1000 * size
      if (sw > 0) {
        spaceWidth = sw
        fakeSpaceMin = sw * 0.3
        fakeMultiSpaceMin = sw * 1.5
        fakeMultiSpaceMax = sw * 4
        textRunBreakAllowed = !font.monospace
      } else {
        spaceWidth = 0.0
        fakeSpaceMin = Double.PositiveInfinity
        fakeMultiSpaceMin = Double.PositiveInfinity
        fakeMultiSpaceMax = 0.0
        textRunBreakAllowed = false
      }
      itemFamily = font.family
      itemFontName = font.loadedName
      if (styleKeys.add(font.loadedName))
        styles += font.loadedName -> TextStyle(font.fallbackFamily,
          font.ascent, font.descent,
          if (font.composite) Some(font.vertical) else None)
      initialized = true
    }

    def addFakeSpaces(width: Double): Unit = {
      if (width < fakeSpaceMin) return
      if (width < fakeMultiSpaceMin) { buf.append(' '); return }
      var n = math.round(width / spaceWidth).toInt
      while (n > 0) { buf.append(' '); n -= 1 }
    }

    def flushItem(): Unit = {
      if (!initialized) return
      val raw = buf.toString
      val rtl = Bidi.rtlRatio(raw) >= 0.3
      val bidi = if (rtl) Bidi.reverseIfRtl(raw) else raw
      // normalizeWhitespace applies AFTER bidi, like runBidiTransform
      val str = if (normalizeWhitespace) replaceWhitespace(bidi) else bidi
      items += TextItem(str, if (rtl) "rtl" else "ltr", itemFamily, itemWidth, itemHeight, itemFontName)
      initialized = false
      buf.setLength(0)
    }

    def buildItem(chars: String): Unit = {
      val font = fontOr()
      ensureItem()
      val size = fontSize
      var width = 0.0
      var height = 0.0
      val wide = font.wideChars
      val step = if (wide) 2 else 1
      var i = 0
      while (i < chars.length) {
        val c: Int =
          if (wide) {
            val hi = chars.charAt(i).toInt & 0xff
            val lo = if (i + 1 < chars.length) chars.charAt(i + 1).toInt & 0xff else 0
            (hi << 8) | lo
          } else chars.charAt(i).toInt
        // vertical writing advances by the /W2 vmetric's w1 only when the
        // code has an EXPLICIT entry (buildTextContentItem, 46067-46077);
        // default-vmetric and horizontal codes use the horizontal width
        val glyphWidth =
          if (vertical && font.vmetrics != null &&
            font.vmetricExplicit != null && font.vmetricExplicit(c))
            font.vmetrics(c)(0)
          else font.widths(c)
        val glyphUnicode = normalize(font.glyphText(c))
        var charSpacing = st.charSpacing
        // word spacing applies to the 1-byte 0x20 charcode only (46101)
        if (!wide && c == ' ') {
          charSpacing += st.wordSpacing
          if (st.wordSpacing > 0) addFakeSpaces(st.wordSpacing)
        }
        var tx = 0.0
        var ty = 0.0
        if (!vertical) {
          val w0 = glyphWidth * font.fontMatrix0
          tx = (w0 * size + charSpacing) * st.textHScale
          width += tx
        } else {
          val w1 = glyphWidth * font.fontMatrix0
          ty = w1 * size + charSpacing
          height += ty
        }
        buf.append(glyphUnicode)
        i += step
      }
      if (!vertical) {
        lastAdvanceWidth = width
        itemWidth += width * textAdvanceScale
      } else {
        lastAdvanceHeight = height
        itemHeight += math.abs(height * textAdvanceScale)
      }
    }

    def mergeMove(tx: Double, ty: Double): Unit = {
      // the same-line merge (46203-46217): treat a small positive same-line
      // move as an advance inside the current item
      val isSameTextLine = st.font != null &&
        (if (st.font.vertical) tx else ty) == 0.0
      val advance = tx - ty
      if (isSameTextLine && initialized && advance > 0 && advance <= fakeMultiSpaceMax) {
        itemWidth += tx - lastAdvanceWidth
        itemHeight += ty - lastAdvanceHeight
        val diff = (tx - lastAdvanceWidth) - (ty - lastAdvanceHeight)
        addFakeSpaces(diff)
      } else flushItem()
    }

    def showKern(n: Double): Unit = {
      ensureItem()
      var advance = n * fontSize / 1000
      var breakTextRun = false
      if (fontOr().vertical) {
        val offset = advance *
          (st.textHScale * st.textMatrix(2) + st.textMatrix(3))
        breakTextRun = textRunBreakAllowed && advance > fakeMultiSpaceMax
        if (!breakTextRun) itemHeight += offset
      } else {
        advance = -advance
        val offset = advance *
          (st.textHScale * st.textMatrix(0) + st.textMatrix(1))
        breakTextRun = textRunBreakAllowed && advance > fakeMultiSpaceMax
        if (!breakTextRun) itemWidth += offset
      }
      if (breakTextRun) flushItem()
      else if (advance > 0) addFakeSpaces(advance)
    }

    // consecutive same-name XObject paints replay the cached items
    // (xobjsCache, 46327-46335)
    var cacheKey: String = null
    var cacheItems: Vector[TextItem] = null

    def walk(bytes: Array[Byte], res0: PageResources, depth: Int): Unit = {
      new OpReader(bytes).read { (cmd, args) =>
        def numArg(i: Int): Double = args(i) match {
          case Tok.Num(v) => v
          case _ => 0.0
        }
        cmd match {
          case "q" => stack += st.snapshot
          case "Q" =>
            if (stack.nonEmpty) st.restoreFrom(stack.remove(stack.length - 1))
          case "cm" | "Tc" | "Tw" => st.exec(cmd, args)
          case "BT" | "Tm" | "TD" | "T*" | "TL" | "Tz" | "Ts" => flushItem(); st.exec(cmd, args)
          case "Td" => mergeMove(numArg(0), numArg(1)); st.exec(cmd, args)
          case "Tf" =>
            flushItem()
            (args(0), args(1)) match {
              case (Tok.Name(n), Tok.Num(sz)) => st.setFont(res0.font(n), sz)
              case _ => ()
            }
          case "Tj" =>
            args(0) match {
              case Tok.Str(s) => buildItem(s)
              case _ => ()
            }
          case "'" =>
            flushItem()
            st.nextLine()
            args(0) match {
              case Tok.Str(s) => buildItem(s)
              case _ => ()
            }
          case "\"" =>
            flushItem()
            st.wordSpacing = numArg(0)
            st.charSpacing = numArg(1)
            st.nextLine()
            args(2) match {
              case Tok.Str(s) => buildItem(s)
              case _ => ()
            }
          case "TJ" =>
            args.foreach {
              case Tok.Str(s) => buildItem(s)
              case Tok.Num(n) => showKern(n)
              case _ => ()
            }
          case "Do" =>
            flushItem()
            args.headOption match {
              case Some(Tok.Name(name)) =>
                if (cacheKey == name && cacheItems != null) {
                  items ++= cacheItems
                } else if (res0.isImage(name)) {
                  cacheKey = name; cacheItems = null
                } else res0.form(name) match {
                  case Some(form) if depth < 8 =>
                    val before = items.length
                    stack += st.snapshot
                    if (form.matrix != null)
                      st.ctm = NumFmt.mul(st.ctm, form.matrix)
                    walk(form.content, form.resources, depth + 1)
                    flushItem()
                    // a stray Q inside the form may have consumed the
                    // Do snapshot (the reference shares one state
                    // stack too and its restore() no-ops when empty)
                    if (stack.nonEmpty)
                      st.restoreFrom(stack.remove(stack.length - 1))
                    cacheKey = name
                    cacheItems = items.drop(before).toVector
                  case _ =>
                    cacheKey = name; cacheItems = null
                }
              case _ => ()
            }
          case "gs" =>
            flushItem()
            args.headOption match {
              case Some(Tok.Name(n)) =>
                res0.gsFont(n).foreach { case (f, sz) => st.setFont(f, sz) }
              case _ => ()
            }
          case _ => () // ET, color/path/marked-content ops: no item effect
        }
      }
    }

    try {
      walk(content, res, 0)
      flushItem()
    } catch { case scala.util.control.NonFatal(_) => flushItem() }
    (items.toVector, styles.toVector)
  }
}
