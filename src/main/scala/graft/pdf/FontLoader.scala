package graft.pdf

import PObj._
import graft.eval.{FontMetrics, FontSpec}

import scala.collection.immutable.ArraySeq
import scala.util.control.NonFatal

/** Simple-font translation: font dict → metrics + charcode→glyph-text mapping
  * (SURVEY.md §2.5 F1-F5, F3/F7). Mirrors the reference's PartialEvaluator
  * translateFont/extractDataStructures/extractWidths (pdf.combined.js:
  * 46408-46931) and Font.charToGlyph's unicode derivation (36632-36636):
  * the golden tspan texts are `glyph.unicode = toUnicode.get(code) || code`
  * per glyph, with toUnicode from the /ToUnicode CMap, from encoding glyph
  * names through the Adobe Glyph List (buildToUnicode, 36449-36520), and —
  * for embedded fonts — amended by the font program's own encoding.
  *
  * Scope: simple fonts (Type1/Type1C via FontFile3, non-embedded std-14,
  * Type3, TrueType metrics-only) plus composite Type0 fonts under Identity
  * CMaps (two-byte charcodes, /DW + /W CID widths, 2-byte /ToUnicode) and
  * embedded CMap STREAMS (code→CID cidrange/cidchar tables + /WMode, the
  * CJK shape — CidCMap, read by `CMapReader`).
  * Predefined non-Identity CMaps would need the Adobe cmap resource files
  * (not shipped; the reference bundles none either) and degrade to identity
  * CIDs; Type1/TrueType *program* parsing is metrics-only.
  */
object FontLoader {

  private val FlagFixedPitch = 1
  private val FlagSerif = 2
  private val FlagSymbolic = 4
  private val FlagNonsymbolic = 32

  /** Cross-document font cache (the reference's preEvaluateFont content-hash
    * dedupe, pdf.combined.js:46716-46793): fonts are keyed by a canonical
    * content fingerprint of the resolved font-dict subtree (embedded program
    * and ToUnicode stream bytes included), so the many-files-per-partition
    * binaryFile ingest lane parses each distinct font once per executor JVM
    * instead of once per document. FontSpec is immutable, so sharing across
    * documents and task threads is safe. Measured: font translation is
    * 30-55% of whole-file ingest time on the reference corpus. A font whose
    * load fails is cached too, as its Helvetica fallback: the failure is a
    * function of the same content, so no later document pays it again. */
  private val crossDocCache = new java.util.concurrent.ConcurrentHashMap[String, FontSpec]()
  private val CrossDocCacheMax = 2048

  def load(fontDict: PDict, file: PdfFile): FontSpec = {
    try {
      fingerprint(fontDict, file) match {
        case Some(key) =>
          val hit = crossDocCache.get(key)
          if (hit != null) hit
          else {
            val spec = loadOrFallback(fontDict, file)
            // crude bound: a full clear beats LRU bookkeeping at this size —
            // re-parsing a font after a rare flush costs single-digit ms
            if (crossDocCache.size >= CrossDocCacheMax) crossDocCache.clear()
            crossDocCache.put(key, spec)
            spec
          }
        case None => loadOrFallback(fontDict, file)
      }
    } catch { case NonFatal(_) => FontMetrics.Helvetica }
  }

  /** The cached font for this dict's content, if any document loaded it. */
  private[pdf] def cached(fontDict: PDict, file: PdfFile): Option[FontSpec] =
    fingerprint(fontDict, file).flatMap(key => Option(crossDocCache.get(key)))

  private def loadOrFallback(fontDict: PDict, file: PdfFile): FontSpec =
    try loadImpl(fontDict, file) catch { case NonFatal(_) => FontMetrics.Helvetica }

  /** Canonical MD5 of the resolved font-dict subtree: refs chased once
    * (cycle-guarded), dict keys sorted, stream bytes hashed in full (they are
    * post-decrypt, so the hash is content-level even for encrypted files).
    * None when the walk trips the depth/node caps — such fonts load uncached
    * rather than risking a truncated (colliding) fingerprint. */
  private def fingerprint(dict: PDict, file: PdfFile): Option[String] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var nodes = 0
    var overflow = false
    val seen = scala.collection.mutable.Set.empty[(Int, Int)]
    def put(s: String): Unit = md.update(s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    def walk(o: PObj, depth: Int): Unit = {
      if (overflow) return
      nodes += 1
      if (depth > 8 || nodes > 4096) { overflow = true; return }
      o match {
        case PRef(n, g) =>
          if (seen.add((n, g))) { put("R:"); walk(file.fetch(n), depth + 1) }
          else put(s"cyc:$n:$g;")
        case PName(n) => put(s"/$n ")
        case PNum(v) => put(s"#$v ")
        case PBool(b) => put(if (b) "T" else "F")
        case PNull => put("Z")
        case PStr(b) => put("("); md.update(b); put(")")
        case PArr(items) => put("["); items.foreach(walk(_, depth + 1)); put("]")
        case PStream(d, raw) => put("S:"); walk(d, depth + 1); md.update(raw)
        case d: PDict =>
          put("<<")
          d.entries.toSeq.sortBy(_._1).foreach { case (k, v) => put(s"/$k "); walk(v, depth + 1) }
          put(">>")
      }
    }
    walk(dict, 0)
    if (overflow) None
    else Some(md.digest().map("%02x".format(_)).mkString)
  }

  private def loadImpl(fontDict: PDict, file: PdfFile): FontSpec = {
    import file.{dictGet, resolve}

    var dict = fontDict
    val baseDict = fontDict
    var tpe = dictGet(dict, "Subtype").collect { case PName(n) => n }.getOrElse("Type1")
    var composite = false
    var vertical = false
    var cidCMap: Option[CidCMap.Parsed] = None
    if (tpe == "Type0") {
      // an embedded CMap STREAM carries its own code→CID mapping (and
      // /WMode) — parsed like the reference's CMapFactory stream branch;
      // predefined non-Identity names degrade to identity CIDs (neither
      // engine ships the Adobe cmap resources)
      cidCMap = dictGet(dict, "Encoding") match {
        case Some(s: PStream) =>
          val p = CidCMap.parse(file.decodeStream(s))
          if (p.toCid.isEmpty && p.identityBase) None // pure identity wrapper
          else Some(p)
        case _ => None
      }
      // vertical writing: a predefined -V CMap name or an embedded CMap
      // stream with /WMode 1 (parseWMode, pdf.combined.js:31395-31420)
      vertical = dictGet(dict, "Encoding") match {
        case Some(PName(n)) => n.endsWith("-V") || n == "V"
        case Some(s: PStream) =>
          dictGet(s.dict, "WMode").collect { case PNum(v) => v.toInt }.contains(1) ||
            cidCMap.exists(_.wmode == 1)
        case _ => false
      }
      dictGet(dict, "DescendantFonts") match {
        case Some(PArr(items)) if items.nonEmpty =>
          resolve(items.head) match {
            case d: PDict =>
              dict = d
              tpe = dictGet(d, "Subtype").collect { case PName(n) => n }.getOrElse(tpe)
            case _ => ()
          }
        case _ => ()
      }
      composite = true
    }

    val descriptor = dictGet(dict, "FontDescriptor").collect { case d: PDict => d }

    // ── no descriptor: std-14 or barebones Type3 (translateFont 46803-46846) ──
    if (descriptor.isEmpty && tpe != "Type3") {
      val baseFontName = dictGet(dict, "BaseFont")
        .collect { case PName(n) => n }.getOrElse("Helvetica")
        .replaceAll("[,_]", "-")
      val metrics = baseFontMetrics(baseFontName)
      val fontNameWoStyle = baseFontName.split("-")(0)
      val flags = (if (isSerifFont(fontNameWoStyle)) FlagSerif else 0) |
        (if (metrics.monospace) FlagFixedPitch else 0) |
        (if (FontData.symbolsFonts.contains(fontNameWoStyle)) FlagSymbolic else FlagNonsymbolic)
      val ds = extractDataStructures(dict, baseDict, file, tpe, flags, hasFile = false, name = baseFontName)
      val widths = buildCharCodeToWidth(metrics.widths, ds)
      val spec0 = buildFont(baseFontName, None, None, tpe, composite = false, ds,
        widths, metrics.defaultWidth, fontMatrix0 = 0.001, file)
      // style surface: simulated flags only (the reference's no-descriptor
      // branch returns before the extractWidths monospace heuristic runs);
      // missing file by construction → the loadedName override applies
      val mapped = FontData.stdFontMap.getOrElse(baseFontName,
        FontData.nonStdFontMap.getOrElse(baseFontName, baseFontName))
      return spec0.copy(
        fallbackFamily = familyOf(flags),
        styleName = mapped.split("-")(0))
    }

    val fontName: String = {
      val descName = descriptor.flatMap(d => dictGet(d, "FontName")).collect { case PName(n) => n }
      val baseName = dictGet(dict, "BaseFont").collect { case PName(n) => n }
      (descName, baseName) match {
        case (Some(fn), Some(bn)) if fn != bn && bn.startsWith(fn) => bn
        case (Some(fn), _) => fn
        case (None, Some(bn)) => bn
        case _ => "Unknown"
      }
    }

    val fontFile: Option[PStream] = descriptor.flatMap { d =>
      dictGet(d, "FontFile").orElse(dictGet(d, "FontFile2")).orElse(dictGet(d, "FontFile3"))
        .collect { case s: PStream => s }
    }
    val subtype = fontFile.flatMap(s => dictGet(s.dict, "Subtype").collect { case PName(n) => n })
    val flags = descriptor.flatMap(d => dictGet(d, "Flags")).collect { case PNum(v) => v.toInt }.getOrElse(0)
    val fontMatrix0 = dictGet(dict, "FontMatrix") match {
      case Some(PArr(items)) => items.headOption.map(resolve).collect { case PNum(v) => v }.getOrElse(0.001)
      case _ => 0.001
    }

    val ds = extractDataStructures(dict, baseDict, file, tpe, flags, hasFile = fontFile.nonEmpty, name = fontName)
    val (widths, defaultWidth) = extractWidths(dict, descriptor, file, ds, fontName, composite)
    val vmet = if (vertical) Some(extractVMetrics(dict, file, defaultWidth)) else None

    val fileBytes = fontFile.map(s => file.decodeStream(s))
    val spec0 = buildFont(fontName, fileBytes, subtype, tpe, composite, ds,
      widths, defaultWidth, fontMatrix0, file, vmet, cidCMap)

    // ── style surface (getTextContent styles dict) ────────────────────────
    // monospace: descriptor FixedPitch OR the all-equal-nonzero-widths
    // heuristic the reference runs over the extracted width table
    // (extractWidths, pdf.combined.js:46630-46648; vacuously true when every
    // width is zero)
    val effFlags =
      if (widthsAllEqual(widths, defaultWidth)) flags | FlagFixedPitch else flags
    // ascent/descent: descriptor values ÷ 1000; embedded TrueType programs
    // override with hhea/head metrics ("PDF FontDescriptor metrics lie",
    // pdf.combined.js:36026-36037)
    def descMetric(key: String): Double = descriptor
      .flatMap(d => dictGet(d, key)).collect { case PNum(v) => v / 1000.0 }
      .getOrElse(Double.NaN)
    val (asc, desc) = fileBytes.filter(_.length >= 12).flatMap(ttfMetrics)
      .getOrElse((descMetric("Ascent"), descMetric("Descent")))
    val hasFileBytes = fileBytes.exists(_.nonEmpty)
    val style =
      if (!hasFileBytes && tpe != "Type3") {
        // missing-file loadedName override (Font ctor 34350, 34412)
        val n0 = fontName.replaceAll("[,_]", "-")
        val mapped = FontData.stdFontMap.getOrElse(n0,
          FontData.nonStdFontMap.getOrElse(n0, n0))
        mapped.split("-")(0)
      } else null
    spec0.copy(
      fallbackFamily = familyOf(effFlags),
      ascent = asc, descent = desc,
      styleName = style,
      composite = composite)
  }

  /** Font.fallbackName (pdf.combined.js:34266-34267). */
  private def familyOf(flags: Int): String =
    if ((flags & FlagFixedPitch) != 0) "monospace"
    else if ((flags & FlagSerif) != 0) "serif"
    else "sans-serif"

  /** The reference's monospace-detection heuristic (pdf.combined.js
    * 46630-46645): walk the width table in ascending code order; skip zero
    * widths; the first non-zero width seeds the comparison unless a non-zero
    * default width already does; any differing non-zero width breaks. */
  private def widthsAllEqual(widths: Map[Int, Double], defaultWidth: Double): Boolean = {
    var firstWidth = defaultWidth
    val it = widths.toArray.sortBy(_._1).iterator
    while (it.hasNext) {
      val w = it.next()._2
      if (w != 0.0 && !w.isNaN) {
        if (firstWidth == 0.0 || firstWidth.isNaN) firstWidth = w
        else if (firstWidth != w) return false
      }
    }
    true
  }

  /** hhea ascender (unsigned int16) / descender (signed int16) ÷ head
    * unitsPerEm from an embedded sfnt program (checkAndRepair metrics
    * override, pdf.combined.js:36026-36037 — int16/signedInt16 exactly).
    * None for non-sfnt bytes (CFF/Type1) or a missing table. */
  private def ttfMetrics(bytes: Array[Byte]): Option[(Double, Double)] = {
    def u32(o: Int): Long =
      ((bytes(o) & 0xffL) << 24) | ((bytes(o + 1) & 0xffL) << 16) |
        ((bytes(o + 2) & 0xffL) << 8) | (bytes(o + 3) & 0xffL)
    def u16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
    def s16(o: Int): Int = { val v = u16(o); if ((v & 0x8000) != 0) v - 0x10000 else v }
    val tag = u32(0)
    // 0x00010000, 'true', 'OTTO' — the sfnt containers the reference routes
    // through TrueTypeFont (ttcf collections are not in the subset)
    if (tag != 0x00010000L && tag != 0x74727565L && tag != 0x4f54544fL) return None
    val numTables = u16(4)
    if (12 + 16 * numTables > bytes.length) return None
    var head = -1; var hhea = -1
    var i = 0
    while (i < numTables) {
      val rec = 12 + 16 * i
      val t = u32(rec)
      val off = u32(rec + 8).toInt
      if (t == 0x68656164L) head = off // 'head'
      else if (t == 0x68686561L) hhea = off // 'hhea'
      i += 1
    }
    if (head < 0 || hhea < 0 || head + 20 > bytes.length || hhea + 8 > bytes.length) None
    else {
      val unitsPerEm = u16(head + 18)
      if (unitsPerEm == 0) None
      else Some((u16(hhea + 4).toDouble / unitsPerEm, s16(hhea + 6).toDouble / unitsPerEm))
    }
  }

  // ── extractDataStructures (pdf.combined.js:46408-46501) ────────────────────

  private final case class DataStructs(
      toUnicodeStream: Option[Map[Int, String]],
      differences: Map[Int, String],
      baseEncodingName: Option[String],
      defaultEncoding: ArraySeq[String],
      flags: Int,
      firstChar: Int,
      hasEncoding: Boolean)

  private def extractDataStructures(
      dict: PDict, baseDict: PDict, file: PdfFile,
      tpe: String, flags: Int, hasFile: Boolean, name: String): DataStructs = {
    import file.dictGet

    val toUnicode = dictGet(dict, "ToUnicode").orElse(dictGet(baseDict, "ToUnicode")) match {
      case Some(s: PStream) => Some(ToUnicodeCMap.parse(file.decodeStream(s)))
      case _ => None
    }

    var baseEncodingName: Option[String] = None
    val differences = Map.newBuilder[Int, String]
    dictGet(dict, "Encoding") match {
      case Some(enc: PDict) =>
        baseEncodingName = dictGet(enc, "BaseEncoding").collect { case PName(n) => n }
        dictGet(enc, "Differences") match {
          case Some(PArr(items)) =>
            var index = 0
            items.foreach { it =>
              file.resolve(it) match {
                case PNum(v) => index = v.toInt
                case PName(n) => differences += index -> n; index += 1
                case _ => ()
              }
            }
          case _ => ()
        }
      case Some(PName(n)) => baseEncodingName = Some(n)
      case _ => ()
    }
    if (!baseEncodingName.exists(n =>
        n == "MacRomanEncoding" || n == "MacExpertEncoding" || n == "WinAnsiEncoding"))
      baseEncodingName = None

    val defaultEncoding: ArraySeq[String] = baseEncodingName match {
      case Some(n) => FontData.getEncoding(n).getOrElse(FontData.standardEncoding)
      case None =>
        var enc = if (tpe == "TrueType") FontData.winAnsiEncoding else FontData.standardEncoding
        if ((flags & FlagSymbolic) != 0) {
          enc = FontData.macRomanEncoding
          if (!hasFile) {
            if (name.toLowerCase.contains("symbol")) enc = FontData.symbolSetEncoding
            else if (name.toLowerCase.contains("dingbats")) enc = FontData.zapfDingbatsEncoding
          }
        }
        enc
    }

    val firstChar = dictGet(dict, "FirstChar").collect { case PNum(v) => v.toInt }.getOrElse(0)
    val hasEncoding = dictGet(dict, "Encoding").isDefined
    DataStructs(toUnicode, differences.result(), baseEncodingName, defaultEncoding, flags,
      firstChar, hasEncoding)
  }

  // ── extractWidths (pdf.combined.js:46557-46655), simple fonts ─────────────

  /** /DW2 + /W2 vertical metrics for a vertical CIDFont: code → [w1, vx, vy]
    * runs ("start [w1 vx vy ...]" or "start end w1 vx vy"), plus the default
    * [DW2[1], DW/2, DW2[0]] (extractWidths vertical branch,
    * pdf.combined.js:46585-46605). */
  private def extractVMetrics(
      dict: PDict, file: PdfFile, defaultWidth: Double): (Map[Int, Array[Double]], Array[Double]) = {
    import file.dictGet
    val dw2: Array[Double] = dictGet(dict, "DW2") match {
      case Some(PArr(items)) if items.length >= 2 =>
        items.take(2).map(file.resolve).map { case PNum(v) => v; case _ => 0.0 }.toArray
      case _ => Array(880.0, -1000.0)
    }
    val default = Array(dw2(1), defaultWidth * 0.5, dw2(0))
    val out = Map.newBuilder[Int, Array[Double]]
    dictGet(dict, "W2") match {
      case Some(PArr(items)) =>
        val rs = items.map(file.resolve)
        var i = 0
        while (i < rs.length) {
          (rs(i), if (i + 1 < rs.length) rs(i + 1) else PNull) match {
            case (PNum(start), PArr(triples)) =>
              val ts = triples.map(file.resolve)
              var j = 0
              var code = start.toInt
              while (j + 2 < ts.length) {
                (ts(j), ts(j + 1), ts(j + 2)) match {
                  case (PNum(a), PNum(b), PNum(c)) => out += code -> Array(a, b, c)
                  case _ => ()
                }
                code += 1; j += 3
              }
              i += 2
            case (PNum(start), PNum(end)) if i + 4 < rs.length =>
              (rs(i + 2), rs(i + 3), rs(i + 4)) match {
                case (PNum(a), PNum(b), PNum(c)) =>
                  var code = start.toInt
                  while (code <= end.toInt) { out += code -> Array(a, b, c); code += 1 }
                case _ => ()
              }
              i += 5
            case _ => i += 1
          }
        }
      case _ => ()
    }
    (out.result(), default)
  }

  private def extractWidths(
      dict: PDict, descriptor: Option[PDict], file: PdfFile,
      ds: DataStructs, fontName: String, composite: Boolean = false): (Map[Int, Double], Double) = {
    import file.dictGet
    if (composite) {
      // CID widths: /DW default + /W runs ("start [w...]" or "start end w"),
      // extractWidths composite branch (pdf.combined.js:46565-46580)
      val dw = dictGet(dict, "DW").collect { case PNum(v) => v }.getOrElse(1000.0)
      val w = Map.newBuilder[Int, Double]
      dictGet(dict, "W") match {
        case Some(PArr(items)) =>
          val it = items.map(file.resolve).iterator
          var cur: Option[Int] = None
          while (it.hasNext) {
            (cur, it.next()) match {
              case (None, PNum(start)) => cur = Some(start.toInt)
              case (Some(start), PArr(ws)) =>
                ws.map(file.resolve).zipWithIndex.foreach {
                  case (PNum(v), k) => w += (start + k) -> v
                  case _ => ()
                }
                cur = None
              case (Some(start), PNum(end)) =>
                if (it.hasNext) it.next() match {
                  case PNum(v) =>
                    var c = start
                    while (c <= end.toInt) { w += c -> v; c += 1 }
                  case _ => ()
                }
                cur = None
              case _ => cur = None
            }
          }
        case _ => ()
      }
      return (w.result(), dw)
    }
    dictGet(dict, "Widths") match {
      case Some(PArr(items)) =>
        val w = Map.newBuilder[Int, Double]
        var j = ds.firstChar
        items.foreach { it =>
          file.resolve(it) match {
            case PNum(v) => w += j -> v
            case _ => ()
          }
          j += 1
        }
        val dw = descriptor.flatMap(d => dictGet(d, "MissingWidth"))
          .collect { case PNum(v) => v }.getOrElse(0.0)
        (w.result(), dw)
      case _ =>
        val metrics = baseFontMetrics(
          dictGet(dict, "BaseFont").collect { case PName(n) => n }.getOrElse(fontName))
        (buildCharCodeToWidth(metrics.widths, ds), metrics.defaultWidth)
    }
  }

  private final case class BaseMetrics(widths: Map[String, Double], defaultWidth: Double, monospace: Boolean)

  private def baseFontMetrics(name0: String): BaseMetrics = {
    val name = FontData.stdFontMap.getOrElse(name0, name0)
    val lookup =
      if (FontData.metrics.contains(name)) name
      else if (isSerifFont(name0)) "Times-Roman"
      else "Helvetica"
    FontData.metrics(lookup) match {
      case Left(w) => BaseMetrics(Map.empty, w, monospace = true)
      case Right(m) => BaseMetrics(m, 0.0, monospace = false)
    }
  }

  private def isSerifFont(baseFontName: String): Boolean = {
    val woStyle = baseFontName.split("-")(0)
    FontData.serifFonts.contains(woStyle) || baseFontName.toLowerCase.contains("serif")
  }

  private def buildCharCodeToWidth(byName: Map[String, Double], ds: DataStructs): Map[Int, Double] = {
    val out = Map.newBuilder[Int, Double]
    var c = 0
    while (c < 256) {
      ds.differences.get(c).flatMap(byName.get) match {
        case Some(w) => out += c -> w
        case None =>
          if (c < ds.defaultEncoding.length && ds.defaultEncoding(c).nonEmpty)
            byName.get(ds.defaultEncoding(c)).foreach(w => out += c -> w)
      }
      c += 1
    }
    out.result()
  }

  // ── glyph text derivation (Font.charToGlyph, pdf.combined.js:36632-36636):
  // the emitted text is glyph.unicode = toUnicode.get(charcode) || charcode.
  // toUnicode comes from the /ToUnicode CMap when present, else from encoding
  // glyph names (buildToUnicode), amended for embedded fonts by the font
  // program's own encoding (the adjustToUnicode discipline) — the mapping the
  // reference CLI's golden tspan texts were generated under.

  private def buildFont(
      name: String, fileBytes: Option[Array[Byte]], subtype: Option[String],
      tpe: String, composite: Boolean, ds: DataStructs,
      widths: Map[Int, Double], defaultWidth: Double, fontMatrix0: Double,
      pdf: PdfFile, vmet: Option[(Map[Int, Array[Double]], Array[Double])] = None,
      cidCMap: Option[CidCMap.Parsed] = None): FontSpec = {

    val toUnicode: Map[Int, String] = ds.toUnicodeStream.getOrElse(buildToUnicode(ds))

    if (composite) {
      // Type0: two-byte charcodes. With an Identity CMap charcode == CID;
      // with an embedded CMap stream, /W widths and /W2 vmetrics are keyed
      // by the MAPPED CID while /ToUnicode stays charcode-keyed — the
      // charsToGlyphs multi-byte path (pdf.combined.js:36697-36708) with the
      // CMapFactory stream branch (31519-31539). Predefined non-Identity
      // names would need the Adobe cmap resource files (not shipped; the
      // reference bundles none either) — those degrade to identity CIDs.
      val cid: Int => Int = cidCMap match {
        case Some(p) => p.cid
        case None => identity
      }
      return FontSpec(
        family = s"g_font_$name",
        widths = c => widths.getOrElse(cid(c), defaultWidth),
        glyphText = { code =>
          toUnicode.get(code) match {
            case Some(u) if u.nonEmpty => u
            case _ => FontSpec.IdentityChar(code)
          }
        },
        fontMatrix0 = fontMatrix0,
        // the /W table is CID-keyed: probe the space-width candidates
        // THROUGH the CMap; a candidate the CMap genuinely does not map
        // falls back to the raw code (the reference's toUnicode/unicode
        // fallthrough chain, pdf.combined.js:36593-36612). cid()'s CID-0
        // .notdef default must NOT count as a mapped hit — a /W entry at
        // CID 0 would otherwise masquerade as the space width
        spaceWidthEst = Seq(0x20, 0x2212, 0x31, 0x69).iterator
          .map { c =>
            val viaCMap: Option[Int] = cidCMap match {
              case Some(p) =>
                p.toCid.get(c).orElse(if (p.identityBase) Some(c) else None)
              case None => Some(c) // Identity CMap
            }
            viaCMap.map(ci => widths.getOrElse(ci, 0.0)).filter(_ != 0.0)
              .getOrElse(widths.getOrElse(c, 0.0))
          }
          .find(_ != 0.0)
          .getOrElse(defaultWidth),
        wideChars = cidCMap.forall(_.codeBytes == 2),
        vertical = vmet.isDefined,
        vmetrics = vmet.map { case (m, default) =>
          // codes without a /W2 entry advance by the horizontal width with
          // the default vy (reference charToGlyph + textContent fallback,
          // 36630, 46071-46077); w1 comes from the default DW2 pair
          (c: Int) => {
            val ci = cid(c)
            m.getOrElse(ci, Array(default(0), widths.getOrElse(ci, defaultWidth) * 0.5, default(2)))
          }
        }.orNull,
        vmetricExplicit = vmet.map { case (m, _) =>
          (c: Int) => m.contains(cid(c))
        }.orNull)
    }

    fileBytes match {
      case None =>
        // missing-file path: std-font alias for style flags only; the text
        // mapping is the toUnicode built from encoding glyph names
        val fontName0 = name.replaceAll("[,_]", "-")
        val fontName = FontData.stdFontMap.getOrElse(fontName0,
          FontData.nonStdFontMap.getOrElse(fontName0, fontName0))
        val bold = fontName.toLowerCase.contains("bold")
        val italic = fontName.toLowerCase.contains("oblique") || fontName.toLowerCase.contains("italic")
        mkSpec(fontName.split("-")(0), widths, defaultWidth, fontMatrix0,
          bold = bold, italic = italic, toUnicode)

      case Some(bytes) =>
        // embedded path: parse the CFF (Type1C) charset + builtin encoding,
        // or a Type1 (PFA/PFB) program's cleartext /Encoding header (round 3
        // — the reference corpus is CFF-only but wild symbolic Type1 fonts
        // carry their mapping here); TrueType programs are not parsed.
        val (charset, builtinEnc) =
          if (subtype.contains("Type1C") || subtype.contains("CIDFontType0C") || isCffBytes(bytes))
            CffParser.tryParse(bytes) match {
              case Some(c) if !c.isCid => (c.charsetNames, c.builtinEncoding)
              case _ => (Array.empty[String], Map.empty[Int, Int])
            }
          else if (Type1Parser.isType1Bytes(bytes)) {
            val enc = Type1Parser.builtinEncoding(bytes)
            val names = enc.values.toArray.distinct
            val idx = names.zipWithIndex.toMap
            (names, enc.map { case (c, n) => c -> idx(n) })
          } else (Array.empty[String], Map.empty[Int, Int])
        // adjustToUnicode: the font program's own encoding (charcode → glyph
        // name → AGL unicode) amends the PDF-side toUnicode wherever the PDF
        // dict didn't speak (an explicit /ToUnicode stream wins outright;
        // /Differences and named base encodings win per charcode).
        val amended: Map[Int, String] =
          if (ds.toUnicodeStream.isDefined) toUnicode
          else {
            val add = Map.newBuilder[Int, String]
            builtinEnc.foreach { case (code, gid) =>
              val skip = (ds.baseEncodingName.isDefined || ds.differences.contains(code)) && ds.hasEncoding
              if (!skip && gid >= 0 && gid < charset.length) {
                val u = FontData.unicodeForGlyph(charset(gid))
                if (u != -1) add += code -> new String(Character.toChars(u))
              }
            }
            toUnicode ++ add.result()
          }
        mkSpec(s"g_font_$name", widths, defaultWidth, fontMatrix0,
          bold = false, italic = false, amended)
    }
  }

  private def isCffBytes(b: Array[Byte]): Boolean =
    b.length > 4 && (b(0) & 0xff) == 1 && (b(1) & 0xff) == 0

  /** buildToUnicode, simple-font branch (pdf.combined.js:36449-36520). */
  private def buildToUnicode(ds: DataStructs): Map[Int, String] = {
    val out = Map.newBuilder[Int, String]
    val encoding = new Array[String](math.max(256, ds.defaultEncoding.length))
    var i = 0
    while (i < ds.defaultEncoding.length) { encoding(i) = ds.defaultEncoding(i); i += 1 }
    ds.differences.foreach { case (c, n) => if (c < encoding.length) encoding(c) = n }
    var c = 0
    while (c < encoding.length) {
      val glyphName = encoding(c)
      if (glyphName != null && glyphName.nonEmpty) {
        FontData.glyphsUnicode.get(glyphName) match {
          case Some(u) => out += c -> u.toChar.toString
          case None =>
            // heuristic recovery: Gxx, g00xx, Cddd/cddd, uniXXXX
            var code = 0
            glyphName.charAt(0) match {
              case 'G' if glyphName.length == 3 =>
                code = try Integer.parseInt(glyphName.substring(1), 16) catch { case _: NumberFormatException => 0 }
              case 'g' if glyphName.length == 5 =>
                code = try Integer.parseInt(glyphName.substring(1), 16) catch { case _: NumberFormatException => 0 }
              case 'C' | 'c' if glyphName.length >= 3 =>
                code = try glyphName.substring(1).toDouble.toInt catch { case _: NumberFormatException => 0 }
              case _ =>
                val u = FontData.unicodeForGlyph(glyphName)
                if (u != -1) code = u
            }
            if (code > 0) {
              var resolved = code.toChar.toString
              if (ds.baseEncodingName.isDefined && code == c) {
                val base = FontData.getEncoding(ds.baseEncodingName.get)
                base.foreach { b =>
                  if (c < b.length && b(c).nonEmpty)
                    FontData.glyphsUnicode.get(b(c)).foreach(u => resolved = u.toChar.toString)
                }
              }
              out += c -> resolved
            }
        }
      }
      c += 1
    }
    out.result()
  }

  private def mkSpec(
      family: String,
      widths: Map[Int, Double], defaultWidth: Double, fontMatrix0: Double,
      bold: Boolean, italic: Boolean,
      toUnicode: Map[Int, String]): FontSpec = {
    val gtFn: Int => String = { code =>
      toUnicode.get(code) match {
        case Some(u) if u.nonEmpty => u // JS `toUnicode.get(c) || c`: '' is falsy
        case _ => FontSpec.IdentityChar(code)
      }
    }
    FontSpec(
      family = family,
      widths = c => widths.getOrElse(c, defaultWidth),
      monospace = false,
      bold = bold,
      italic = italic,
      glyphText = gtFn,
      fontMatrix0 = fontMatrix0,
      spaceWidthEst = estimateSpaceWidth(widths, defaultWidth, toUnicode))
  }

  /** Font.spaceWidth getter chain (pdf.combined.js:36575-36619): try the
    * space/minus/one/i glyphs — charcode via toUnicode reverse lookup, falling
    * back to the unicode value itself — first non-zero width wins, else the
    * default width. */
  private def estimateSpaceWidth(
      widths: Map[Int, Double], defaultWidth: Double, toUnicode: Map[Int, String]): Double = {
    // the reference's toUnicode.charCodeOf(glyphUnicode) reverse lookup compares
    // an int against string map values and thus never matches for simple fonts —
    // the effective chain is widths[unicodeValue] per candidate, first non-zero
    val _ = toUnicode
    val candidates = Seq(0x20 /*space*/, 0x2212 /*minus*/, 0x31 /*one*/, 0x69 /*i*/)
    candidates.iterator
      .map(c => widths.getOrElse(c, 0.0))
      .find(_ != 0.0)
      .getOrElse(defaultWidth)
  }
}
