package graft.pdf

import PObj._
import graft.core.GlyphRun
import graft.eval.{ContentEvaluator, EvalResult, FontMetrics, FontSpec, FormXObject, PageResources}

import scala.collection.mutable

/** Whole-file PDF ingestion: xref → page tree walk (inherited attributes) →
  * per-page content-stream concat → font/XObject resources → the shared
  * content evaluator (SURVEY.md §2.1 S7-S9; reference Catalog/Page,
  * pdf.combined.js:42930-42998, content concat 48873-48892).
  *
  * Never throws: malformed files return zero pages or degrade per-page
  * (the reference's recovery discipline).
  */
final class PdfDocument private (val file: PdfFile) {

  private val fontCache = mutable.Map.empty[AnyRef, FontSpec]
  private[pdf] val formCache = mutable.Map.empty[String, Option[graft.eval.FormXObject]]

  // ── getTextContent font naming (loadFont, pdf.combined.js:45460-45508) ──
  // Sequential per-document ids for descriptor-bearing fonts, aliased by
  // (descriptor ref, preEvaluateFont-style content hash) so distinct refs to
  // the same translated font share one id; descriptor-less refs use the
  // `num_gen` form; inline font dicts use the resource name; the Font
  // constructor's missing-file styleName override wins last. Assigned at
  // first load in stream order — a Tf that never shows text still consumes
  // an id, exactly like the reference.
  private var fontSeqId = 0
  private val fontAliasIds = mutable.Map.empty[String, Int]

  /** The font at `fontRef` (a `Tf` resource or an ExtGState `/Font`),
    * loaded once per document and named on first load. The cache is keyed by
    * indirect ref, so a font a page selects again (by either operator) does
    * not re-run the loader, embedded program parse included. */
  private def loadFont(fontRef: PObj, resourceName: String): FontSpec = {
    val key: AnyRef = fontRef match {
      case PRef(n, g) => (n, g)
      case other => other
    }
    fontCache.getOrElseUpdate(key, {
      val spec = file.resolve(fontRef) match {
        case d: PDict => FontLoader.load(d, file)
        case _ => FontMetrics.Helvetica
      }
      spec.copy(loadedName = loadedNameFor(spec, fontRef, resourceName))
    })
  }

  private def loadedNameFor(spec: FontSpec, fontRef: PObj, resourceName: String): String = {
    import file.dictGet
    val baseDict = file.resolve(fontRef) match { case d: PDict => d; case _ => PDict(Map.empty) }
    // composite fonts carry the descriptor on the descendant (preEvaluateFont)
    val dict: PDict = dictGet(baseDict, "DescendantFonts") match {
      case Some(PArr(items)) if items.nonEmpty =>
        file.resolve(items.head) match { case d: PDict => d; case _ => baseDict }
      case _ => baseDict
    }
    val descRaw = dict.get("FontDescriptor").filter {
      case _: PRef | _: PDict => true
      case _ => false
    }
    if (descRaw.isDefined) {
      val descKey = descRaw.get match {
        case PRef(n, g) => s"$n-$g"
        case _ => // inline descriptor dict: identity is per font ref
          fontRef match { case PRef(n, g) => s"inl-$n-$g"; case _ => s"inl-$resourceName" }
      }
      val id = fontAliasIds.getOrElseUpdate(descKey + "|" + preEvalHash(baseDict, dict), {
        fontSeqId += 1; fontSeqId
      })
      if (spec.styleName != null) spec.styleName else s"g_d0_f$id"
    } else if (spec.styleName != null) spec.styleName
    else fontRef match {
      case PRef(n, g) => s"g_d0_f${n}_$g"
      case _ => "g_d0_f" + resourceName.replaceAll("\\W", "")
    }
  }

  /** preEvaluateFont's alias hash (pdf.combined.js:46740-46783): the raw
    * /Encoding shape, the /ToUnicode stream bytes, and the /Widths values —
    * enough to keep genuinely different fonts on one descriptor apart. */
  private def preEvalHash(baseDict: PDict, dict: PDict): String = {
    val sb = new StringBuilder
    baseDict.get("Encoding").foreach {
      case PName(n) => sb.append(n)
      case PRef(n, g) => sb.append(n).append('_').append(g)
      case d: PDict =>
        d.entries.toSeq.sortBy(_._1).foreach {
          case (_, PName(n)) => sb.append(n)
          case (_, PRef(n, g)) => sb.append(n).append('_').append(g)
          case (_, PArr(items)) => sb.append(items.length)
          case _ => ()
        }
      case _ => ()
    }
    sb.append('|')
    dict.get("ToUnicode").orElse(baseDict.get("ToUnicode")).map(file.resolve).foreach {
      case s: PStream =>
        val md = java.security.MessageDigest.getInstance("MD5")
        sb.append(md.digest(s.raw).map("%02x".format(_)).mkString)
      case PName(n) => sb.append(n)
      case _ => ()
    }
    sb.append('|')
    dict.get("Widths").orElse(baseDict.get("Widths")).map(file.resolve).foreach {
      case PArr(items) => items.foreach {
        case PNum(v) => sb.append(v).append(',')
        case _ => sb.append("R,")
      }
      case _ => ()
    }
    sb.toString
  }

  /** Page dicts in document order (depth-first /Kids walk, cycle-guarded),
    * plus each page's object ref → index (the `getPageIndex` surface,
    * pdf.combined.js:43000 — ours is a byproduct of the same walk). */
  private val pagesAndRefs: (Vector[PageInfo], Map[(Int, Int), Int]) = {
    import file.{dictGet, resolve}
    val out = Vector.newBuilder[PageInfo]
    val refIdx = Map.newBuilder[(Int, Int), Int]
    var nPages = 0
    val seen = mutable.Set.empty[PObj]
    def walk(node: PObj, inherited: Map[String, PObj]): Unit = resolve(node) match {
      case d: PDict if seen.add(node) =>
        val inh = inherited ++
          Seq("Resources", "MediaBox", "Rotate", "CropBox")
            .flatMap(k => d.get(k).map(k -> _))
        def emit(): Unit = {
          out += PageInfo(d, inh)
          node match {
            case PRef(num, gen) => refIdx += (num, gen) -> nPages
            case _ => ()
          }
          nPages += 1
        }
        dictGet(d, "Type") match {
          case Some(PName("Pages")) =>
            dictGet(d, "Kids") match {
              case Some(PArr(kids)) => kids.foreach(walk(_, inh))
              case _ => ()
            }
          case Some(PName("Page")) => emit()
          case _ =>
            // missing /Type: treat nodes with /Kids as Pages, /Contents as Page
            if (d.has("Kids")) dictGet(d, "Kids") match {
              case Some(PArr(kids)) => kids.foreach(walk(_, inh))
              case _ => ()
            }
            else if (d.has("Contents")) emit()
        }
      case _ => ()
    }
    try {
      file.dictGet(file.trailer, "Root") match {
        case Some(root: PDict) =>
          file.dictGet(root, "Pages").foreach(p => walk(p, Map.empty))
        case _ => ()
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    (out.result(), refIdx.result())
  }
  val pages: Vector[PageInfo] = pagesAndRefs._1
  val pageRefIndex: Map[(Int, Int), Int] = pagesAndRefs._2

  final case class PageInfo(dict: PDict, inherited: Map[String, PObj]) {
    def attr(key: String): Option[PObj] =
      dict.get(key).orElse(inherited.get(key)).map(file.resolve)

    def mediaBox: Array[Double] = attr("MediaBox") match {
      case Some(PArr(items)) if items.length == 4 =>
        items.map(file.resolve).map { case PNum(v) => v; case _ => 0.0 }.toArray
      case _ => Array(0, 0, 612, 792)
    }

    /** Concatenated decoded content streams, newline-joined (the reference's
      * StreamsSequenceStream inserts nothing, but streams are required to end
      * at a lexical boundary; a separating \n matches its effective behavior). */
    def content: Array[Byte] = {
      val parts: Vector[Array[Byte]] = attr("Contents") match {
        case Some(s: PStream) => Vector(file.decodeStream(s))
        case Some(PArr(items)) =>
          items.map(file.resolve).collect { case s: PStream => file.decodeStream(s) }
        case _ => Vector.empty
      }
      if (parts.isEmpty) Array.emptyByteArray
      else if (parts.length == 1) parts.head
      else {
        val total = parts.map(_.length).sum + parts.length - 1
        val out = new Array[Byte](total)
        var off = 0
        parts.zipWithIndex.foreach { case (p, i) =>
          if (i > 0) { out(off) = '\n'; off += 1 }
          System.arraycopy(p, 0, out, off, p.length)
          off += p.length
        }
        out
      }
    }

    def resources: PageResources = mkResources(attr("Resources"))

    /** Initial CTM compensating /Rotate (SURVEY.md §2.7 G23): maps rotated
      * content into upright y-up page space so reading-order assembly is
      * orientation-independent. Identity for the normal /Rotate 0 case. */
    def rotationCtm: Array[Double] = {
      val rot = attr("Rotate") match {
        case Some(PNum(v)) => ((v.toInt % 360) + 360) % 360
        case _ => 0
      }
      val mb = mediaBox
      rot match {
        case 90 => Array(0, -1, 1, 0, 0, mb(2)) // (x,y) -> (y, x1 - x)
        case 180 => Array(-1, 0, 0, -1, mb(2), mb(3)) // -> (x1 - x, y1 - y)
        case 270 => Array(0, 1, -1, 0, mb(3), 0) // -> (y1 - y, x)
        case _ => graft.core.NumFmt.Identity
      }
    }
  }

  /** /ColorSpace resource entry → resolved fill model (SURVEY.md §2.2 E5;
    * ColorSpace.parse, pdf.combined.js:40554+). Families:
    * device/CIE names, [/ICCBased stream] by /N, [/Indexed base hival lookup]
    * with the lookup dereferenced (string or stream), [/Separation ...] and
    * [/DeviceN names ...] as tint→gray. Unknown families → None (the
    * evaluator falls back to the component-count heuristic). */
  private def parseColorSpace(o: PObj, depth: Int): Option[graft.eval.ColorSpaceModel] = {
    import graft.eval.ColorSpaceModel
    if (depth > 4) return None
    file.resolve(o) match {
      case PName(n) => ColorSpaceModel.fromName(n)
      case PArr(items) if items.nonEmpty =>
        file.resolve(items.head) match {
          case PName("ICCBased") if items.length >= 2 =>
            file.resolve(items(1)) match {
              case s: PStream => file.dictGet(s.dict, "N") match {
                case Some(PNum(n)) => n.toInt match {
                  case 1 => Some(ColorSpaceModel.Gray)
                  case 3 => Some(ColorSpaceModel.RGB)
                  case 4 => Some(ColorSpaceModel.CMYK)
                  case _ => None
                }
                case _ => None
              }
              case _ => None
            }
          case PName("CalGray") => Some(ColorSpaceModel.Gray)
          case PName("CalRGB") => Some(ColorSpaceModel.RGB)
          case PName("Lab") =>
            // [/Lab << /WhitePoint [...] /Range [...] >>] — proper L*a*b*
            // conversion (reference LabCS, pdf.combined.js:41660-41770)
            val params = items.lift(1).map(file.resolve) match {
              case Some(d: PDict) => d
              case _ => PDict(Map.empty)
            }
            def nums(key: String): Option[Array[Double]] =
              file.dictGet(params, key) match {
                case Some(PArr(vs)) =>
                  Some(vs.map(file.resolve).map { case PNum(v) => v; case _ => 0.0 }.toArray)
                case _ => None
              }
            val wp = nums("WhitePoint").filter(_.length >= 3)
            val rg = nums("Range").filter(_.length >= 4)
            val dflt = graft.eval.ColorSpaceModel.Lab()
            Some(graft.eval.ColorSpaceModel.Lab(
              wp.map(_(0)).getOrElse(dflt.xw), wp.map(_(1)).getOrElse(dflt.yw),
              wp.map(_(2)).getOrElse(dflt.zw),
              rg.map(_(0)).getOrElse(dflt.amin), rg.map(_(1)).getOrElse(dflt.amax),
              rg.map(_(2)).getOrElse(dflt.bmin), rg.map(_(3)).getOrElse(dflt.bmax)))
          case PName("Indexed") | PName("I") if items.length >= 4 =>
            parseColorSpace(items(1), depth + 1).flatMap { base =>
              val lookup: Option[Array[Byte]] = file.resolve(items(3)) match {
                case PStr(b) => Some(b)
                case s: PStream => Some(file.decodeStream(s))
                case _ => None
              }
              lookup.map(lk => ColorSpaceModel.Indexed(base, lk))
            }
          case PName("Separation") => Some(ColorSpaceModel.Tint(1))
          case PName("DeviceN") if items.length >= 2 =>
            file.resolve(items(1)) match {
              case PArr(names) => Some(ColorSpaceModel.Tint(math.max(1, names.length)))
              case _ => Some(ColorSpaceModel.Tint(1))
            }
          case PName(n) if items.length == 1 => parseColorSpace(PName(n), depth + 1)
          case _ => None
        }
      case _ => None
    }
  }

  private def mkResources(resObj: Option[PObj]): PageResources = new PageResources {
    private val resDict: PDict = resObj match {
      case Some(d: PDict) => d
      case _ => PDict(Map.empty)
    }
    private lazy val fontDict: PDict = file.dictGet(resDict, "Font") match {
      case Some(d: PDict) => d
      case _ => PDict(Map.empty)
    }
    private lazy val xobjDict: PDict = file.dictGet(resDict, "XObject") match {
      case Some(d: PDict) => d
      case _ => PDict(Map.empty)
    }

    override def font(name: String): FontSpec =
      fontDict.get(name) match {
        case Some(ref) => loadFont(ref, name)
        case None => FontMetrics.resolve(name)
      }

    override def gsFont(name: String): Option[(FontSpec, Double)] =
      file.dictGet(resDict, "ExtGState").collect { case d: PDict => d }
        .flatMap(gsd => file.dictGet(gsd, name)).collect { case d: PDict => d }
        .flatMap(gs => file.dictGet(gs, "Font")).collect {
          case PArr(Vector(fref, sz)) =>
            val size = file.resolve(sz) match { case PNum(v) => v; case _ => 0.0 }
            (loadFont(fref, name), size)
        }

    override def colorSpace(name: String): Option[graft.eval.ColorSpaceModel] =
      try file.dictGet(resDict, "ColorSpace").collect { case d: PDict => d }
        .flatMap(csd => csd.get(name))
        .flatMap(parseColorSpace(_, 0))
      catch { case scala.util.control.NonFatal(_) => None }

    override def isImage(name: String): Boolean =
      xobjDict.get(name).exists { ref =>
        file.resolve(ref) match {
          case s: PStream => file.dictGet(s.dict, "Subtype").contains(PName("Image"))
          case _ => false
        }
      }

    override def form(name: String): Option[FormXObject] =
      xobjDict.get(name).flatMap { ref =>
        def build(key: String): Option[FormXObject] = file.resolve(ref) match {
          case s: PStream if file.dictGet(s.dict, "Subtype").contains(PName("Form")) =>
            val matrix = file.dictGet(s.dict, "Matrix") match {
              case Some(PArr(items)) if items.length == 6 =>
                items.map(file.resolve).map { case PNum(v) => v; case _ => 0.0 }.toArray
              case _ => Array(1.0, 0, 0, 1, 0, 0)
            }
            Some(FormXObject(file.decodeStream(s), mkResources(file.dictGet(s.dict, "Resources")), matrix, key))
          case _ => None
        }
        ref match {
          // memoize per indirect object (reference memoizes per name,
          // pdf.combined.js:46329-46335): a page stamping the same form
          // hundreds of times (headers, watermarks) decodes it once
          case PRef(n, g) =>
            val key = s"xobj:$n:$g"
            formCache.getOrElseUpdate(key, build(key))
          // a direct (inline) stream has no stable identity across resource
          // dicts that may reuse the name — rebuild rather than risk aliasing
          case _ => build(s"xobj:inline:$name")
        }
      }
  }

  /** Evaluate page `i` → positioned glyph runs (page index stamped), with
    * the golden tspan surface's fake spaces reconstructed inside run texts.
    * Page text needs them too: the line assembler sees only run-boundary
    * geometry, so kern word gaps inside a run are invisible to it. It does
    * not double them: a leading fake space sits at the previous run's end x,
    * so its gap test sees no gap. */
  def evalPage(i: Int): EvalResult =
    try {
      val p = pages(i)
      val r = ContentEvaluator.evaluatePage(p.content, p.resources, true,
        initialCtm = p.rotationCtm)
      r.copy(runs = r.runs.map(_.copy(page = i)))
    } catch {
      // corrupt page: salvage nothing from it but never fail the document —
      // at 10^12 rows a single malformed file must not kill the job (S6)
      case scala.util.control.NonFatal(_) => EvalResult(Vector.empty, 1)
    }

  /** All pages' runs in document order. */
  def allRuns: Vector[GlyphRun] =
    pages.indices.flatMap(i => evalPage(i).runs).toVector

  /** Reading-order text of page `i` — the one page-text function for whole
    * PDFs, behind `extractText` and `extract_turn`'s whole-PDF dialect:
    * `evalPage`, then the line assembler (y-clustering + metric-based
    * word-gap inference), then bidi per assembled line. The reference applies
    * its bidi transform in getTextContent (pdf.combined.js:46033-46045) and
    * never in the SVG path, so the tspan/golden surface stays byte-identical
    * while document text reads RTL scripts in logical order. */
  def pageText(i: Int): PageText = {
    val r = evalPage(i)
    val text = graft.extract.LineAssembler.assemble(r.runs).text
    PageText(graft.extract.Bidi.reverseRtlLines(text), r.runs.length, r.errors)
  }

  /** Whole-document text, pages joined by a blank line. */
  def extractText: String = pages.indices.map(pageText(_).text).mkString("\n\n")

  /** Reference-parity text-content ITEMS for page `i` — the alternative
    * reading-order surface (SURVEY.md §2.7 R2/R4): the reference's exact
    * getTextContent item semantics (same-line Td merge, TJ run breaks,
    * fake-space thresholds) instead of the generalized y-cluster that
    * `pageText` uses. Gated item-for-item against a fixture generated
    * by the vendored CLI's own getTextContent (TextItemsSpec). */
  def textContentItems(i: Int,
      normalizeWhitespace: Boolean = false): Vector[graft.extract.TextItem] =
    try {
      val p = pages(i)
      graft.extract.TextItems.extract(p.content, p.resources,
        normalizeWhitespace = normalizeWhitespace)
    } catch { case scala.util.control.NonFatal(_) => Vector.empty }

  /** Items plus the page's styles dict (getTextContent's second surface):
    * loadedName → (fontFamily, ascent, descent[, vertical]) in first-use
    * order. Font ids are document-scoped, so sequential calls over pages
    * observe exactly what the reference's sequential getPage consumer does. */
  def textContentItemsWithStyles(i: Int)
      : (Vector[graft.extract.TextItem], Vector[(String, graft.extract.TextStyle)]) =
    try {
      val p = pages(i)
      graft.extract.TextItems.extractWithStyles(p.content, p.resources)
    } catch { case scala.util.control.NonFatal(_) => (Vector.empty, Vector.empty) }

  /** Page text through the ITEM surface, items joined by single spaces —
    * the reference CLI's own plain-text rendering (getinfo.js:
    * `strings.join(' ')`). The item-parity alternative to
    * `pageText`'s y-cluster assembly. */
  def textContentText(i: Int): String =
    textContentItems(i).iterator.map(_.str).mkString(" ")

  /** Ordered tspan texts — the reference CLI's golden surface
    * (src/test/resources/output/NAME.pdf.expected/tspan-texts.txt). A tspan
    * containing any XML-invalid control character does not survive the
    * reference's SVG serialization — the whole entry is dropped, as are
    * entries with no visible content (the goldens contain no empty or
    * whitespace-only entries). */
  def tspanTexts: Vector[String] =
    allRuns.map(_.text)
      .filter(t => t.forall(_ >= 0x20))
      .filter(t => t.exists(_ != ' '))

  /** Document information dictionary — the `getMetadata` entry-point surface
    * (SURVEY.md §3.3; reference documentInfo, pdf.combined.js:49241-49269).
    * Only the spec-validated keys are kept (validators at :49086-49101):
    * the eight string entries decoded per stringToPDFString (UTF-16BE BOM or
    * PDFDocEncoding, :3277-3292) plus /Trapped as a name. Never throws.
    */
  lazy val info: Map[String, String] =
    try file.dictGet(file.trailer, "Info") match {
      case Some(d: PDict) =>
        val b = Map.newBuilder[String, String]
        PdfDocument.InfoStringKeys.foreach { k =>
          file.dictGet(d, k) match {
            case Some(PStr(bs)) => b += k -> PdfDocument.decodePdfString(bs)
            case _ => () // non-string value for a string key: dropped, like the reference
          }
        }
        file.dictGet(d, "Trapped") match {
          case Some(PName(n)) => b += "Trapped" -> n
          case _ => ()
        }
        b.result()
      case _ => Map.empty
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Catalog /Metadata XMP packet as UTF-8 text, when /Type /Metadata
    * /Subtype /XML (reference Catalog.metadata, pdf.combined.js:42556-42587).
    */
  lazy val xmp: Option[String] =
    try {
      for {
        root <- file.dictGet(file.trailer, "Root").collect { case d: PDict => d }
        s <- file.dictGet(root, "Metadata").collect { case s: PStream => s }
        if file.dictGet(s.dict, "Type").contains(PName("Metadata"))
        if file.dictGet(s.dict, "Subtype").contains(PName("XML"))
      } yield new String(file.decodeStream(s), java.nio.charset.StandardCharsets.UTF_8)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-page display labels from the catalog /PageLabels number tree
    * (reference Catalog.pageLabels, pdf.combined.js:42749-42828; number
    * tree getAll 43709-43744; toRoman 3042-3077): each range dictionary
    * restarts the numbering (/St, default 1 — a zero /St also falls back
    * to 1, the reference's `|| 1`), sets the prefix (/P) and the style
    * (/S — D decimal, R/r roman, A/a letters with AA/BB doubling past Z);
    * pages before the first range get empty labels. None when the file has
    * no /PageLabels or ANY entry is malformed — the reference abandons the
    * whole surface on its first assert (warn → null), never a partial
    * array. */
  lazy val pageLabels: Option[Vector[String]] = try readPageLabels()
    catch { case scala.util.control.NonFatal(_) => None }

  private def readPageLabels(): Option[Vector[String]] = {
    val treeRoot = (for {
      root <- file.dictGet(file.trailer, "Root").collect { case d: PDict => d }
      pl <- root.get("PageLabels") // raw — the tree walk resolves
    } yield pl).getOrElse(return None)

    val nums = mutable.Map.empty[Int, PObj]
    treeEntries(treeRoot, "Nums").foreach {
      case (PNum(k), v) if k.isWhole => nums(k.toInt) = v
      case _ => () // non-integer key: unreachable by page index
    }

    def toRoman(n: Int, lower: Boolean): String = {
      // Util.toRoman asserts n > 0 — a non-positive index under R/r styles
      // abandons the surface like every other malformed entry
      if (n <= 0) return null
      val map = Array(
        "", "C", "CC", "CCC", "CD", "D", "DC", "DCC", "DCCC", "CM",
        "", "X", "XX", "XXX", "XL", "L", "LX", "LXX", "LXXX", "XC",
        "", "I", "II", "III", "IV", "V", "VI", "VII", "VIII", "IX")
      var x = n
      val sb = new StringBuilder
      while (x >= 1000) { x -= 1000; sb += 'M' }
      sb ++= map(x / 100); x %= 100
      sb ++= map(10 + x / 10); x %= 10
      sb ++= map(20 + x)
      val s = sb.result()
      if (lower) s.toLowerCase else s
    }

    val out = new Array[String](pages.length)
    var style: String = null
    var prefix = ""
    var currentIndex = 1
    var i = 0
    while (i < pages.length) {
      nums.get(i) match {
        case None => ()
        case Some(v) =>
          val labelDict = v match { case d: PDict => d; case _ => return None }
          file.dictGet(labelDict, "Type") match {
            case None | Some(PName("PageLabel")) => ()
            case _ => return None
          }
          style = file.dictGet(labelDict, "S") match {
            case None => null
            case Some(PName(nm)) => nm
            case _ => return None
          }
          prefix = file.dictGet(labelDict, "P") match {
            case None => ""
            case Some(s: PStr) => s.latin1
            case _ => return None
          }
          currentIndex = file.dictGet(labelDict, "St") match {
            case None => 1
            case Some(PNum(d)) if d.isWhole => if (d.toInt == 0) 1 else d.toInt
            case _ => return None
          }
      }
      val current = style match {
        case null => ""
        case "D" => currentIndex.toString
        case "R" | "r" =>
          val s = toRoman(currentIndex, style == "r")
          if (s == null) return None
          s
        case "A" | "a" =>
          val base = if (style == "a") 'a' else 'A'
          val li = currentIndex - 1
          if (li < 0) return None // fromCharCode below 'A' — malformed
          (base + li % 26).toChar.toString * (li / 26 + 1)
        case _ => return None // unknown style name: the reference's assert
      }
      out(i) = prefix + current
      currentIndex += 1
      i += 1
    }
    Some(out.toVector)
  }

  // ── catalog navigation surfaces: getOutline / getDestinations ──

  /** Named destinations (reference Catalog.destinations + getDestinations,
    * pdf.combined.js:42686-42720): the /Names → /Dests name tree (getAll,
    * 43710-43744) or the legacy catalog /Dests dictionary; dictionary-valued
    * destinations take their /D. Keys are the raw latin-1 byte strings of
    * the name-tree string keys (the JS object-key coercion — NOT
    * stringToPDFString: UTF-16BE-keyed files like test24 keep their BOM
    * bytes). The reference propagates a malformed-tree assert to the API
    * promise; we degrade to empty per the house never-throw rule. */
  lazy val destinations: Map[String, PObj] =
    try readDestinations()
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** NameOrNumberTree.getAll (pdf.combined.js:43710-43744): BFS with a
    * duplicate-kid assert (a repeated kid throws, and the caller abandons
    * the surface), non-dict nodes skipped, /Kids nodes never read
    * `leafKey`, leaf `leafKey` arrays (/Names or /Nums) read pairwise.
    * Keys and values come back resolved, in tree order. */
  private def treeEntries(treeRoot: PObj, leafKey: String): Vector[(PObj, PObj)] = {
    val out = Vector.newBuilder[(PObj, PObj)]
    val processed = mutable.Set[PObj](treeRoot)
    val queue = mutable.Queue(treeRoot)
    while (queue.nonEmpty) {
      file.resolve(queue.dequeue()) match {
        case d: PDict =>
          if (d.has("Kids")) {
            file.resolve(d.get("Kids").getOrElse(PNull)) match {
              case PArr(kids) => kids.foreach { kid =>
                if (processed.contains(kid)) throw new IllegalStateException("dup tree kid")
                processed += kid
                queue += kid
              }
              case _ => () // non-array Kids: node contributes nothing
            }
          } else file.dictGet(d, leafKey) match {
            case Some(PArr(entries)) =>
              var i = 0
              while (i + 1 < entries.length) {
                out += file.resolve(entries(i)) -> file.resolve(entries(i + 1))
                i += 2
              }
            case _ => ()
          }
        case _ => ()
      }
    }
    out.result()
  }

  /** NameTree.getAll: the /Names leaves keyed as JS object keys (strings
    * keep raw latin-1 bytes, numbers print; other key types are unreachable
    * in JS too). */
  private def nameTreeGetAll(treeRoot: PObj): mutable.LinkedHashMap[String, PObj] = {
    val out = mutable.LinkedHashMap.empty[String, PObj]
    treeEntries(treeRoot, "Names").foreach {
      case (PStr(b), v) => out(new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)) = v
      case (PNum(k), v) => out(PdfDocument.jsNum(k)) = v
      case _ => ()
    }
    out
  }

  private def readDestinations(): Map[String, PObj] = {
    val root = file.dictGet(file.trailer, "Root")
      .collect { case d: PDict => d }.getOrElse(return Map.empty)
    def takeD(o: PObj): PObj = file.resolve(o) match {
      case d: PDict => file.dictGet(d, "D").getOrElse(PNull)
      case other => other
    }
    val out = mutable.LinkedHashMap.empty[String, PObj]
    file.dictGet(root, "Names") match {
      case Some(names: PDict) if names.has("Dests") =>
        val treeRoot = names.get("Dests").getOrElse(return Map.empty)
        nameTreeGetAll(treeRoot).foreach { case (k, v) => out(k) = takeD(v) }
      case _ =>
        file.dictGet(root, "Dests") match {
          case Some(d: PDict) =>
            d.entries.keysIterator.toSeq.sorted.foreach { k =>
              // legacy name dictionary: keys are PDF names
              d.get(k).filter(_ != PNull).foreach(v => out(k) = takeD(v))
            }
          case _ => ()
        }
    }
    out.toMap
  }

  /** FileSpec mirror (pdf.combined.js:43850-43930): display name from the
    * UF > F > Unix > Mac > DOS pick with the reference's exact backslash
    * normalization; decoded /EF stream content when embedded. */
  private def fileSpecOf(o: PObj): Option[(String, Option[Array[Byte]])] =
    file.resolve(o) match {
      case fs: PDict =>
        def pickPlatform(d: PDict): Option[PObj] =
          Seq("UF", "F", "Unix", "Mac", "DOS").iterator
            .flatMap(k => file.dictGet(d, k)).nextOption()
        val filename = (pickPlatform(fs) match {
          case Some(PStr(b)) => PdfDocument.decodePdfString(b)
          case _ => "unnamed"
        }).replace("\\\\", "\\").replace("\\/", "/").replace("\\", "/")
        val content: Option[Array[Byte]] = file.dictGet(fs, "EF") match {
          case Some(ef: PDict) => pickPlatform(ef) match {
            case Some(s: PStream) => Some(file.decodeStream(s))
            case _ => None
          }
          case _ => None
        }
        Some((filename, content))
      case _ => None
    }

  /** Page annotations — the getAnnotations('display') surface (reference
    * Page.annotations + AnnotationFactory, pdf.combined.js:47897-48725,
    * 49003-49030): every /Annots entry becomes a data record with the base
    * fields (id `<num>R[<gen>]`, subtype, normalized /Rect, /F flags, the
    * 0/1/3/4-component /C color conversion, AP/N-with-/AS appearance
    * detection) plus the per-subtype payload — Link /A actions (URI with
    * the www. default-protocol and 7-bit-ASCII-as-UTF-8 decode, GoTo /
    * GoToR destinations, Named actions) and /Dest fallbacks, Text icon
    * rects and names, Widget field name/value/type/flags (with the
    * backtick-index rule for unnamed kids and the Sig hide), Popup parent
    * title/contents/color, markup popups, FileAttachment filenames. The
    * 'display' viewable filter (INVISIBLE/HIDDEN/NOVIEW) applies like the
    * API default. A malformed entry is skipped, never thrown. */
  def annotations(i: Int): Vector[AnnotData] = try {
    val annotsObj = pages(i).attr("Annots").getOrElse(return Vector.empty)
    val refs = annotsObj match {
      case PArr(items) => items
      case _ => return Vector.empty
    }
    val out = Vector.newBuilder[AnnotData]
    refs.foreach { ref =>
      try annotOf(ref).foreach { a =>
        val viewable = a.flags == 0 ||
          (a.flags & (1 | 2 | 0x20)) == 0 // INVISIBLE | HIDDEN | NOVIEW
        if (viewable) out += a
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    out.result()
  } catch { case scala.util.control.NonFatal(_) => Vector.empty }

  private def annotOf(ref: PObj): Option[AnnotData] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val d = file.resolve(ref) match {
      case dd: PDict => dd
      case _ => return None
    }
    val subtype = file.dictGet(d, "Subtype") match {
      case Some(PName(n)) => n
      case _ => ""
    }
    val id = ref match {
      case PRef(num, gen) => if (gen == 0) s"${num}R" else s"${num}R$gen"
      case _ => ""
    }
    val flags = file.dictGet(d, "F") match {
      case Some(n: PNum) if n.value.isWhole => n.int
      case _ => 0
    }
    // Util.normalizeRect with the reference's NaN-tolerant comparisons
    val rect: Array[Double] = file.dictGet(d, "Rect") match {
      case Some(PArr(items)) if items.length == 4 =>
        val r = items.map(file.resolve).map {
          case PNum(v) => v
          case _ => Double.NaN
        }.toArray
        if (r(0) > r(2)) { val t = r(0); r(0) = r(2); r(2) = t }
        if (r(1) > r(3)) { val t = r(1); r(1) = r(3); r(3) = t }
        r
      case _ => Array(0.0, 0.0, 0.0, 0.0)
    }
    // setColor: 0 = transparent (None), 1 gray, 3 rgb, 4 cmyk, else black
    def cvt(v: Double): Int = {
      val t = (v * 255).toInt
      if (t < 0) 0 else if (t > 255) 255 else t
    }
    def colorOf(obj: Option[PObj]): Option[(Int, Int, Int)] = obj match {
      case Some(PArr(cs)) =>
        val v = cs.map(file.resolve).map { case PNum(x) => x; case _ => Double.NaN }
        cs.length match {
          case 0 => None
          case 1 => val g = cvt(v(0)); Some((g, g, g))
          case 3 => Some((cvt(v(0)), cvt(v(1)), cvt(v(2))))
          case 4 =>
            // (1-c)(1-k) approximation — the reference's DeviceCmykCS runs a
            // large calibration polynomial instead (pdf.combined.js:41226);
            // disclosed deviation, no corpus annotation carries CMYK
            val (r, g, b) = graft.eval.ColorSpaceModel
              .toRgb(graft.eval.ColorSpaceModel.CMYK, v.toArray)
              .getOrElse((0.0, 0.0, 0.0))
            Some((cvt(r), cvt(g), cvt(b)))
          case _ => Some((0, 0, 0))
        }
      case _ => Some((0, 0, 0))
    }
    var color = colorOf(file.dictGet(d, "C"))
    // getDefaultAppearance: AP → N; a states subdictionary picks /AS
    val hasAppearance = file.dictGet(d, "AP") match {
      case Some(ap: PDict) => file.dictGet(ap, "N") match {
        case Some(states: PDict) => file.dictGet(d, "AS") match {
          case Some(PName(as)) => states.has(as)
          case _ => false
        }
        case Some(_) => true
        case None => false
      }
      case _ => false
    }
    var annotationType: Option[Int] = None
    var url: Option[String] = None
    var dest: Option[String] = None
    var action: Option[String] = None
    var title: Option[String] = None
    var contents: Option[String] = None
    var name: Option[String] = None
    var hasPopup: Option[Boolean] = None
    var fieldName: Option[String] = None
    var fieldValue: Option[String] = None
    var fieldType: Option[String] = None
    var fieldFlags: Option[Int] = None
    var fileFilename: Option[String] = None
    var flagsOut = flags
    val rectOut = rect.clone()

    def preparePopup(): Unit = {
      if (!d.has("C")) color = None
      hasPopup = Some(d.has("Popup"))
      title = Some(file.dictGet(d, "T") match {
        case Some(PStr(b)) => PdfDocument.decodePdfString(b)
        case _ => ""
      })
      contents = Some(file.dictGet(d, "Contents") match {
        case Some(PStr(b)) => PdfDocument.decodePdfString(b)
        case _ => ""
      })
    }
    def getInheritable(start: PDict, key: String): Option[PObj] = {
      var cur: PDict = start
      var depth = 0
      while (cur != null && depth < 100) {
        file.dictGet(cur, key) match {
          case Some(v) => return Some(v)
          case None => ()
        }
        cur = file.dictGet(cur, "Parent") match {
          case Some(p: PDict) => p
          case _ => null
        }
        depth += 1
      }
      None
    }

    subtype match {
      case "Link" =>
        annotationType = Some(2)
        file.dictGet(d, "A") match {
          case Some(a: PDict) =>
            val linkType = file.dictGet(a, "S") match {
              case Some(PName(n)) => n
              case _ => ""
            }
            linkType match {
              case "URI" =>
                var u = file.dictGet(a, "URI") match {
                  case Some(PName(n)) => "/" + n // bad PDFs: unparenthesized relative urls
                  case Some(PStr(b)) =>
                    val s = new String(b, ISO_8859_1)
                    if (s.startsWith("www.")) "http://" + s else s
                  case _ => ""
                }
                if (!PdfDocument.isValidUrl(u)) u = ""
                // URIs should be 7-bit ASCII; bad PDFs carry UTF-8 — decode
                // it when valid, keep the raw copy otherwise (:48420-48426)
                url = Some(try {
                  val bytes = u.toCharArray.map(_.toByte)
                  val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
                  dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
                } catch { case scala.util.control.NonFatal(_) => u })
              case "GoTo" =>
                file.dictGet(a, "D").foreach(v => dest = Some(PdfDocument.renderDest(v)))
              case "GoToR" =>
                var u = file.dictGet(a, "F") match {
                  case Some(fd: PDict) => file.dictGet(fd, "F") match {
                    case Some(PStr(b)) => new String(b, ISO_8859_1)
                    case _ => ""
                  }
                  case _ => ""
                }
                if (!PdfDocument.isValidUrl(u)) u = ""
                url = Some(u)
                file.dictGet(a, "D").foreach(v => dest = Some(PdfDocument.renderDest(v)))
              case "Named" =>
                file.dictGet(a, "N") match {
                  case Some(PName(n)) => action = Some(n)
                  case _ => ()
                }
              case _ => () // unrecognized link type: warn-only there
            }
          case _ =>
            if (d.has("Dest")) file.dictGet(d, "Dest").foreach {
              case PName(n) => dest = Some(n)
              case v => dest = Some(PdfDocument.renderDest(v))
            }
        }
      case "Text" =>
        annotationType = Some(1)
        if (hasAppearance) name = Some("NoIcon")
        else {
          // icon-sized rect (22 px) anchored at the top-left corner
          rectOut(1) = rectOut(3) - 22
          rectOut(2) = rectOut(0) + 22
          name = Some(file.dictGet(d, "Name") match {
            case Some(PName(n)) => n
            case _ => "Note"
          })
        }
        preparePopup()
      case "Widget" =>
        annotationType = Some(20)
        fieldValue = Some(getInheritable(d, "V") match {
          case Some(PStr(b)) => PdfDocument.decodePdfString(b)
          case _ => ""
        })
        fieldType = Some(getInheritable(d, "FT") match {
          case Some(PName(n)) => n
          case _ => ""
        })
        fieldFlags = Some(getInheritable(d, "Ff") match {
          case Some(n: PNum) if n.value.isWhole => n.int
          case _ => 0
        })
        if (fieldType.contains("Sig")) flagsOut = 2 // HIDDEN, like the reference
        // full field name: T entries up the Parent chain; unnamed kids get
        // a backtick + Kids index (the reference's de-facto rule)
        val parts = scala.collection.mutable.ArrayBuffer.empty[String]
        var cur: PDict = d
        var curRef: PObj = ref
        var depth = 0
        while (cur != null && depth < 100) {
          val parent = file.dictGet(cur, "Parent").collect { case p: PDict => p }
          val parentRef = cur.get("Parent").orNull
          file.dictGet(cur, "T") match {
            case Some(PStr(b)) => parts.prepend(PdfDocument.decodePdfString(b))
            case _ =>
              (parent, curRef) match {
                case (Some(p), PRef(num, gen)) =>
                  val kids = file.dictGet(p, "Kids") match {
                    case Some(PArr(ks)) => ks
                    case _ => Vector.empty
                  }
                  val j = kids.indexWhere {
                    case PRef(kn, kg) => kn == num && kg == gen
                    case _ => false
                  }
                  parts.prepend("`" + (if (j < 0) kids.length else j))
                case _ => ()
              }
          }
          cur = parent.orNull
          curRef = parentRef
          depth += 1
        }
        fieldName = Some(parts.mkString("."))
      case "Popup" =>
        annotationType = Some(16)
        file.dictGet(d, "Parent") match {
          case Some(p: PDict) =>
            title = Some(file.dictGet(p, "T") match {
              case Some(PStr(b)) => PdfDocument.decodePdfString(b)
              case _ => ""
            })
            contents = Some(file.dictGet(p, "Contents") match {
              case Some(PStr(b)) => PdfDocument.decodePdfString(b)
              case _ => ""
            })
            if (!p.has("C")) color = None
            else color = colorOf(file.dictGet(p, "C"))
          case _ => ()
        }
      case "Highlight" => annotationType = Some(9); preparePopup()
      case "Underline" => annotationType = Some(10); preparePopup()
      case "Squiggly" => annotationType = Some(11); preparePopup()
      case "StrikeOut" => annotationType = Some(12); preparePopup()
      case "FileAttachment" =>
        annotationType = Some(17)
        fileFilename = file.dictGet(d, "FS").flatMap(fileSpecOf).map(_._1)
        preparePopup()
      case _ => () // base annotation: shared fields only
    }
    Some(AnnotData(id, subtype, annotationType, rectOut, flagsOut,
      hasAppearance, color, url, dest, action, title, contents, name,
      hasPopup, fieldName, fieldValue, fieldType, fieldFlags, fileFilename))
  }

  /** Embedded-file attachments — the getAttachments surface (reference
    * Catalog.attachments + FileSpec, pdf.combined.js:42830-42850,
    * 43850-43930): the /Names → /EmbeddedFiles name tree, each value a file
    * specification whose display name picks UF > F > Unix > Mac > DOS,
    * decodes per stringToPDFString and normalizes backslashes exactly like
    * the reference (escaped pairs first, then any remaining '\' → '/');
    * content is the decoded /EF stream (None when the spec embeds none).
    * Keys decode per stringToPDFString too. Empty when absent/malformed. */
  lazy val attachments: Map[String, (String, Option[Array[Byte]])] =
    try readAttachments()
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  private def readAttachments(): Map[String, (String, Option[Array[Byte]])] = {
    val root = file.dictGet(file.trailer, "Root")
      .collect { case d: PDict => d }.getOrElse(return Map.empty)
    val names = file.dictGet(root, "Names")
      .collect { case d: PDict => d }.getOrElse(return Map.empty)
    val treeRoot = names.get("EmbeddedFiles").getOrElse(return Map.empty)
    val out = mutable.LinkedHashMap.empty[String, (String, Option[Array[Byte]])]
    nameTreeGetAll(treeRoot).foreach { case (rawName, fsObj) =>
      fileSpecOf(fsObj).foreach { spec =>
        out(PdfDocument.decodePdfString(rawName.getBytes(
          java.nio.charset.StandardCharsets.ISO_8859_1))) = spec
      }
    }
    out.toMap
  }

  /** Document fingerprint (reference PDFDocument.fingerprint,
    * pdf.combined.js:49271-49292): hex of the trailer /ID's first string
    * when present, non-empty and not the all-zero placeholder; otherwise
    * MD5 over the file's first 1024 bytes. A natural corpus-dedup key. */
  lazy val fingerprint: String = try {
    val idBytes: Array[Byte] = file.trailer.get("ID") match {
      case Some(o) => file.resolve(o) match {
        case PArr(items) if items.nonEmpty => items.head match {
          // raw element, like the reference's idArray[0]: an empty string
          // is falsy there and a 16-NUL placeholder is rejected explicitly
          case PStr(b) if b.nonEmpty && !(b.length == 16 && b.forall(_ == 0)) => b
          case _ => null
        }
        case _ => null
      }
      case None => null
    }
    val hash =
      if (idBytes != null) idBytes
      else {
        // the reference's calculateMD5 call passes length 1024 regardless
        // of the file size, so a shorter file hashes as if ZERO-PADDED to
        // 1024 (its Uint8Array out-of-bounds reads coerce to 0) — mirrored
        // for fingerprint parity on the same bytes
        val head = java.util.Arrays.copyOf(file.bytes, 1024)
        java.security.MessageDigest.getInstance("MD5").digest(head)
      }
    hash.map("%02x".format(_)).mkString
  } catch { case scala.util.control.NonFatal(_) => "" }

  /** Document-level JavaScript — the getJavaScript surface (reference
    * Catalog.javaScript, pdf.combined.js:42852-42898): the /Names →
    * /JavaScript name tree's /S /JavaScript action dicts (string or stream
    * /JS, via stringToPDFString) plus the catalog /OpenAction — a /Type
    * /Action dict appends its script, and the de-facto named Print action
    * appends 'print({});'. Empty when absent; never throws. */
  lazy val javaScript: Vector[String] =
    try readJavaScript()
    catch { case scala.util.control.NonFatal(_) => Vector.empty }

  private def readJavaScript(): Vector[String] = {
    val root = file.dictGet(file.trailer, "Root")
      .collect { case d: PDict => d }.getOrElse(return Vector.empty)
    val out = Vector.newBuilder[String]
    def appendIfJs(d: PDict): Unit = {
      if (!file.dictGet(d, "S").contains(PName("JavaScript"))) return
      file.dictGet(d, "JS") match {
        case Some(s: PStream) =>
          out += PdfDocument.decodePdfString(file.decodeStream(s))
        case Some(PStr(b)) => out += PdfDocument.decodePdfString(b)
        case _ => ()
      }
    }
    file.dictGet(root, "Names") match {
      case Some(names: PDict) if names.has("JavaScript") =>
        nameTreeGetAll(names.get("JavaScript").get).foreach {
          case (_, d: PDict) => appendIfJs(d)
          case _ => ()
        }
      case _ => ()
    }
    file.dictGet(root, "OpenAction") match {
      case Some(oa: PDict) if file.dictGet(oa, "Type").contains(PName("Action")) =>
        if (file.dictGet(oa, "S").contains(PName("Named"))) {
          // the de-facto named Print action (not in PDF 1.7, honored anyway)
          if (file.dictGet(oa, "N").contains(PName("Print")))
            out += "print({});"
        } else appendIfJs(oa)
      case _ => ()
    }
    out.result()
  }

  /** The document outline (bookmarks) — reference getOutline /
    * Catalog.readDocumentOutline (pdf.combined.js:42605-42679), reproduced
    * rule for rule: breadth-first First/Next walk with a processed-ref cycle
    * guard; /A actions yield /D destinations or validated /URI urls; a raw
    * /Dest name converts to its string; titles via stringToPDFString; /F
    * flags split into bold/italic; /C colors through the DeviceRGB truncate
    * + clamp; any malformed item (missing /Title) abandons the WHOLE surface
    * (warn → null). Dests are pre-rendered to the canonical string form
    * (`ref:num_gen` / `name:X` / js-number, comma-joined for arrays) and
    * resolved to a 0-based page index where the target page exists. */
  lazy val outline: Option[Vector[OutlineItem]] =
    try readOutline()
    catch { case scala.util.control.NonFatal(_) => None }

  private def readOutline(): Option[Vector[OutlineItem]] = {
    val root = file.dictGet(file.trailer, "Root")
      .collect { case d: PDict => d }.getOrElse(return None)
    val outlines = file.dictGet(root, "Outlines")
      .collect { case d: PDict => d }.getOrElse(return None)
    val first = outlines.get("First").getOrElse(return None)
    if (!first.isInstanceOf[PRef]) return None

    final class Node {
      var item: OutlineItem = _
      val children = mutable.ArrayBuffer.empty[Node]
      def freeze(): OutlineItem = item.copy(children = children.map(_.freeze()).toVector)
    }
    val rootNode = new Node
    val processed = mutable.Set[PObj](first)
    val queue = mutable.Queue[(PObj, Node)]((first, rootNode))
    while (queue.nonEmpty) {
      val (ref, parent) = queue.dequeue()
      file.resolve(ref) match {
        case PNull => () // fetch miss: the reference's `=== null` skip
        case d: PDict =>
          if (!d.has("Title")) throw new IllegalStateException("Invalid outline item")
          var dest: PObj = PNull
          var url: Option[String] = None
          file.dictGet(d, "A") match {
            case Some(a: PDict) =>
              file.dictGet(a, "D") match {
                // JS truthiness: an empty-string /D is falsy and skipped
                case Some(PStr(b)) if b.isEmpty => ()
                case Some(v) => dest = v
                case None =>
                  file.dictGet(a, "URI") match {
                    case Some(PStr(b)) =>
                      val u = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
                      if (PdfDocument.isValidUrl(u)) url = Some(u)
                    case _ => ()
                  }
              }
            case Some(_) => throw new IllegalStateException("non-dict /A")
            case None =>
              if (d.has("Dest")) {
                dest = d.get("Dest").get match { // RAW — an indirect dest stays a ref
                  case PName(n) => PStr(n.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
                  case other => other
                }
              }
          }
          val title = file.dictGet(d, "Title") match {
            case Some(PStr(b)) => PdfDocument.decodePdfString(b)
            case _ => "" // stringToPDFString over a non-string: empty
          }
          val flags = file.dictGet(d, "F") match {
            case Some(n: PNum) => n.int
            case _ => 0
          }
          // DeviceRGB getRgbItem (pdf.combined.js:41138-41146): (v*255)|0,
          // clamped — only for a 3-array that is not all-zero
          var (r, g, b) = (0, 0, 0)
          file.dictGet(d, "C") match {
            case Some(PArr(cs)) if cs.length == 3 &&
                cs.exists { case PNum(v) => v != 0; case _ => true } =>
              def cvt(o: PObj): Int = {
                val v = o match { case PNum(x) => x; case _ => Double.NaN }
                val t = (v * 255).toInt // NaN → 0, truncate toward zero like |0
                if (t < 0) 0 else if (t > 255) 255 else t
              }
              r = cvt(cs(0)); g = cvt(cs(1)); b = cvt(cs(2))
            case _ => ()
          }
          val count = file.dictGet(d, "Count") match {
            case Some(PNum(v)) => Some(v)
            case _ => None
          }
          val node = new Node
          node.item = OutlineItem(
            title = title,
            dest = if (dest == PNull) None else Some(PdfDocument.renderDest(dest)),
            url = url,
            colorR = r, colorG = g, colorB = b,
            count = count,
            bold = (flags & 2) != 0,
            italic = (flags & 1) != 0,
            destPage = if (dest == PNull) None else destPageIndex(dest),
            children = Vector.empty)
          parent.children += node
          d.get("First") match {
            case Some(f: PRef) if !processed.contains(f) =>
              processed += f
              queue += ((f, node))
            case _ => ()
          }
          d.get("Next") match {
            case Some(nx: PRef) if !processed.contains(nx) =>
              processed += nx
              queue += ((nx, parent))
            case _ => ()
          }
        case _ => throw new IllegalStateException("non-dict outline item")
      }
    }
    val items = rootNode.children.map(_.freeze()).toVector
    if (items.nonEmpty) Some(items) else None
  }

  /** Resolve a destination (explicit array, named string, or indirect ref)
    * to a 0-based page index via the page-tree walk's ref map. Number-typed
    * first elements (remote-goto style) index pages directly. */
  def destPageIndex(destRaw: PObj): Option[Int] = {
    val explicit = file.resolve(destRaw) match {
      case PStr(b) =>
        destinations.get(new String(b, java.nio.charset.StandardCharsets.ISO_8859_1))
          .map(file.resolve).getOrElse(PNull)
      case PName(n) => destinations.get(n).map(file.resolve).getOrElse(PNull)
      case other => other
    }
    explicit match {
      case PArr(items) if items.nonEmpty => items.head match {
        case PRef(num, gen) => pageRefIndex.get((num, gen))
        case PNum(v) if v.isWhole && v >= 0 && v < pages.length => Some(v.toInt)
        case _ => None
      }
      case _ => None
    }
  }
}

object PdfDocument {
  def open(bytes: Array[Byte]): PdfDocument = new PdfDocument(new PdfFile(bytes))

  private[pdf] val InfoStringKeys = Seq(
    "Title", "Author", "Subject", "Keywords", "Creator", "Producer",
    "CreationDate", "ModDate")

  /** PDFDocEncoding → Unicode overrides (identity elsewhere); mirrors
    * PDFStringTranslateTable, pdf.combined.js:3265-3275. */
  private val PdfDocOverrides: Map[Int, Int] = Map(
    0x18 -> 0x2D8, 0x19 -> 0x2C7, 0x1A -> 0x2C6, 0x1B -> 0x2D9,
    0x1C -> 0x2DD, 0x1D -> 0x2DB, 0x1E -> 0x2DA, 0x1F -> 0x2DC,
    0x80 -> 0x2022, 0x81 -> 0x2020, 0x82 -> 0x2021, 0x83 -> 0x2026,
    0x84 -> 0x2014, 0x85 -> 0x2013, 0x86 -> 0x192, 0x87 -> 0x2044,
    0x88 -> 0x2039, 0x89 -> 0x203A, 0x8A -> 0x2212, 0x8B -> 0x2030,
    0x8C -> 0x201E, 0x8D -> 0x201C, 0x8E -> 0x201D, 0x8F -> 0x2018,
    0x90 -> 0x2019, 0x91 -> 0x201A, 0x92 -> 0x2122, 0x93 -> 0xFB01,
    0x94 -> 0xFB02, 0x95 -> 0x141, 0x96 -> 0x152, 0x97 -> 0x160,
    0x98 -> 0x178, 0x99 -> 0x17D, 0x9A -> 0x131, 0x9B -> 0x142,
    0x9C -> 0x153, 0x9D -> 0x161, 0x9E -> 0x17E, 0xA0 -> 0x20AC)

  /** stringToPDFString semantics (pdf.combined.js:3277-3292): a UTF-16BE BOM
    * selects big-endian 16-bit decoding, otherwise bytes map through
    * PDFDocEncoding. */
  private[pdf] def decodePdfString(bytes: Array[Byte]): String = {
    val n = bytes.length
    if (n >= 2 && (bytes(0) & 0xff) == 0xFE && (bytes(1) & 0xff) == 0xFF) {
      val sb = new java.lang.StringBuilder(n / 2)
      var i = 2
      while (i < n) {
        // an odd-length string keeps its final byte as the char's high half —
        // the reference reads charCodeAt past the end, which coerces to 0
        // (stringToPDFString, pdf.combined.js:3280-3285)
        val lo = if (i + 1 < n) bytes(i + 1) & 0xff else 0
        sb.append((((bytes(i) & 0xff) << 8) | lo).toChar)
        i += 2
      }
      sb.toString
    } else {
      val sb = new java.lang.StringBuilder(n)
      var i = 0
      while (i < n) {
        val c = bytes(i) & 0xff
        sb.append(PdfDocOverrides.getOrElse(c, c).toChar)
        i += 1
      }
      sb.toString
    }
  }

  /** isValidUrl(url, false) — RFC 3986 scheme sniff with the reference's
    * protocol allowlist (pdf.combined.js:2473-2494). */
  private[pdf] def isValidUrl(url: String): Boolean = {
    if (url.isEmpty) return false
    val m = java.util.regex.Pattern
      .compile("^[a-z][a-z0-9+\\-.]*(?=:)", java.util.regex.Pattern.CASE_INSENSITIVE)
      .matcher(url)
    if (!m.find()) return false
    m.group(0).toLowerCase match {
      case "http" | "https" | "ftp" | "mailto" | "tel" => true
      case _ => false
    }
  }

  /** JS-style number rendering: integral doubles print without a fraction. */
  private[graft] def jsNum(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Canonical destination string: explicit arrays join their elements with
    * commas (`ref:num_gen`, `name:X`, js-numbers, `null`); byte strings keep
    * latin-1; a top-level name or ref uses the same tagged form. */
  private[graft] def renderDest(o: PObj): String = o match {
    case PStr(b) => new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
    case PArr(items) => items.map(renderDestElem).mkString(",")
    case other => renderDestElem(other)
  }

  private def renderDestElem(o: PObj): String = o match {
    case PRef(num, gen) => s"ref:${num}_$gen"
    case PName(n) => s"name:$n"
    case PNum(v) => jsNum(v)
    case PStr(b) => new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
    case PBool(v) => v.toString
    case PNull => "null"
    case _ => "?"
  }
}

/** One page's reading-order text with the page's run count and evaluator
  * errors (`PdfDocument.pageText`). */
final case class PageText(text: String, runs: Int, errors: Int)

/** One annotation's extracted data — the reference getAnnotations record
  * shape (Annotation.data, pdf.combined.js:48010-48022 and the subtype
  * ctors) restricted to the extraction-relevant fields. `rect` is the
  * normalized [x0, y0, x1, y1]; `color` None = transparent; subtype-less
  * fields stay None. */
final case class AnnotData(
    id: String,
    subtype: String,
    annotationType: Option[Int],
    rect: Array[Double],
    flags: Int,
    hasAppearance: Boolean,
    color: Option[(Int, Int, Int)],
    url: Option[String],
    dest: Option[String],
    action: Option[String],
    title: Option[String],
    contents: Option[String],
    name: Option[String],
    hasPopup: Option[Boolean],
    fieldName: Option[String],
    fieldValue: Option[String],
    fieldType: Option[String],
    fieldFlags: Option[Int],
    fileFilename: Option[String])

/** One outline (bookmark) item — the reference getOutline item shape
  * (pdf.combined.js:42655-42664) with the destination pre-rendered and
  * resolved to a page. `count` keeps the raw /Count number (open/closed
  * descendant count); `destPage` is 0-based. */
final case class OutlineItem(
    title: String,
    dest: Option[String],
    url: Option[String],
    colorR: Int, colorG: Int, colorB: Int,
    count: Option[Double],
    bold: Boolean,
    italic: Boolean,
    destPage: Option[Int],
    children: Vector[OutlineItem]) {
  def flatten(depth: Int = 0): Vector[(Int, OutlineItem)] =
    (depth, this) +: children.flatMap(_.flatten(depth + 1))
}
