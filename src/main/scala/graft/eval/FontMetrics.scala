package graft.eval

/** Metrics-only font model (SURVEY.md §2.5 F2: widths + encodings; no font-program
  * sanitization). Widths are in 1/1000 em, looked up per char — the same shape the
  * reference's std-14 metrics fallback uses (pdf.combined.js:46811-46845, backed by
  * the public Adobe AFM width tables).
  */
final case class FontSpec(
    family: String,
    widths: Int => Double,
    monospace: Boolean = false,
    bold: Boolean = false,
    italic: Boolean = false,
    /** charcode → emitted glyph text: `glyph.unicode = toUnicode.get(c) || c`
      * (Font.charToGlyph, pdf.combined.js:36632-36636) — possibly several
      * chars (ligature expansions from a /ToUnicode CMap). Identity for the
      * synthetic dialects; real PDF fonts install their toUnicode mapping. */
    glyphText: Int => String = FontSpec.IdentityChar,
    /** FontMatrix[0] — 0.001 for everything except Type3 fonts. */
    fontMatrix0: Double = 0.001,
    /** Estimated space width in 1/1000 em (the reference's Font.spaceWidth
      * getter chain over space/minus/one/i, pdf.combined.js:36575-36619);
      * NaN = use widths(0x20). */
    spaceWidthEst: Double = Double.NaN,
    /** Composite (Type0) fonts consume two bytes per charcode (Identity-H/V
      * CMaps — charsToGlyphs multi-byte path, pdf.combined.js:36697-36708). */
    wideChars: Boolean = false,
    /** Vertical writing (Type0 with a -V CMap / embedded /WMode 1): shows
      * advance the pen in y using /W2 vmetrics (pdf.combined.js:34294-34297,
      * 46585-46605). */
    vertical: Boolean = false,
    /** code → [w1, vx, vy] from /W2, with the DW2 default synthesized for
      * codes without an entry (fall back shape, reference 46068-46077). */
    vmetrics: Int => Array[Double] = null,
    /** true when the code has an EXPLICIT /W2 entry — the reference's item
      * surface advances by vmetric[0] only then; default-vmetric codes
      * advance by the horizontal width (46067-46077). */
    vmetricExplicit: Int => Boolean = null,
    /** CSS-generic fallback family the styles dict exposes (Font.fallbackName,
      * pdf.combined.js:34266-34267): monospace if FixedPitch — descriptor flag
      * OR the all-equal-nonzero-widths heuristic (extractWidths 46630-46648) —
      * else serif if the Serif flag, else sans-serif. */
    fallbackFamily: String = "sans-serif",
    /** Em-normalized ascent/descent for the styles dict: descriptor
      * /Ascent / /Descent ÷ 1000 (Font ctor, 34275-34276), overridden for
      * embedded TrueType programs by hhea ascender/descender ÷ head
      * unitsPerEm ("FontDescriptor metrics lie", 36026-36037). NaN when the
      * descriptor carries none (serializes as null, like the reference). */
    ascent: Double = Double.NaN,
    descent: Double = Double.NaN,
    /** Non-null for missing-file fonts: the reference's loadedName OVERRIDE
      * (std-font-mapped name without its style suffix — Font ctor 34350,
      * 34412: `fontName.split('-')[0]`). Type3 fonts never set this (the
      * ctor's Type3 early-return precedes the missing-file branch). */
    styleName: String = null,
    /** Type0 composite font (drives the styles dict `vertical` key, which
      * the reference emits only when properties.vertical is defined —
      * translateFont 46928 sets it for composite fonts only). */
    composite: Boolean = false,
    /** Document-scoped getTextContent font name (`g_d0_f<id>` / the
      * styleName override) — assigned by PdfDocument at first load, NOT by
      * the cross-document font cache (ids are per-document state). */
    loadedName: String = "")

object FontSpec {
  val IdentityChar: Int => String = {
    // cache the single-char strings for the ASCII fast path
    val ascii = Array.tabulate(128)(c => c.toChar.toString)
    c => if (c < 128) ascii(c) else c.toChar.toString
  }
}

object FontMetrics {
  // Helvetica AFM widths for 0x20..0x7e (public Adobe core-14 metrics).
  private val helvetica: Array[Double] = Array(
    278, 278, 355, 556, 556, 889, 667, 191, 333, 333, 389, 584, 278, 333,
    278, 278, 556, 556, 556, 556, 556, 556, 556, 556, 556, 556, 278, 278,
    584, 584, 584, 556, 1015, 667, 667, 722, 722, 667, 611, 778, 722, 278,
    500, 667, 556, 833, 722, 778, 667, 778, 722, 667, 611, 722, 667, 944,
    667, 667, 611, 278, 278, 278, 469, 556, 333, 556, 556, 500, 556, 556,
    278, 556, 556, 222, 222, 500, 222, 833, 556, 556, 556, 556, 333, 500,
    278, 556, 500, 722, 500, 500, 500, 334, 260, 334, 584)

  val Helvetica: FontSpec = FontSpec(
    "Helvetica",
    c => if (c >= 0x20 && c <= 0x7e) helvetica(c - 0x20) else 556.0)

  val Courier: FontSpec =
    FontSpec("Courier", _ => 600.0, monospace = true)

  /** Resolve a `/Fn` resource name. Bare content-stream fragments carry no
    * resource dict; convention: names containing "C"/"Mono" → Courier, else
    * Helvetica metrics, loadedName = `g_font_<name>` (matching the reference's
    * loadedName scheme, e.g. `g_font_2`). */
  def resolve(name: String, resources: Map[String, FontSpec] = Map.empty): FontSpec =
    resources.getOrElse(
      name, {
        val base = if (name.contains("Mono") || name.startsWith("C")) Courier else Helvetica
        base.copy(family = s"g_font_$name")
      })
}
