package graft.pdf

import PObj._

/** Image XObject enumeration + real pixel decode (SURVEY.md §2.1 S13 — the
  * lane the text path scopes out as bbox markers; here surfaced as a data
  * product for multimodal pipelines: a 100 TB PDF corpus yields an image
  * table alongside the text table in the same scan).
  *
  * The reference consumes images as paint markers only (paintImageXObject,
  * pdf.combined.js:47464-47483) and never inflates raster data on the text
  * path; this module is the additive multimodal surface over the same object
  * model. Codec coverage, JDK-only (no external dependency):
  *   - DCTDecode  → javax.imageio JPEG reader on the post-prefilter payload;
  *   - CCITTFaxDecode → the payload wrapped in a minimal single-strip TIFF
  *     (Compression 3/4 per /K, T4/T6 options per /EncodedByteAlign) and fed
  *     to the JDK TIFF reader's fax decompressor;
  *   - Flate/LZW raw samples → dimensions from the dict (already decoded);
  *   - JBIG2Decode → graft.pdf.Jbig2 (from-spec MQ decoder: generic regions,
  *     MMR, symbol-coded text incl. refinement, /JBIG2Globals; huffman →
  *     metadata only);
  *   - JPXDecode → graft.pdf.Jpx (from-spec T.800 subset: raw + JP2, 5/3 +
  *     9/7, EBCOT, RCT/ICT; outside-subset streams → metadata only).
  *
  * Never throws: undecodable payloads degrade to metadata-only rows.
  */
object PdfImages {

  /** One image reference on a page. Dict metadata always present; decoded_*
    * and gray_mean are -1 when no pixel decode was possible. gray_mean is the
    * mean luminance (0-255, rounded) over a bounded ≤64×64 tap grid. */
  final case class PdfImage(
      page: Int, name: String, width: Int, height: Int, bpc: Int,
      colorSpace: String, filter: String,
      decodedW: Int, decodedH: Int, decodedBands: Int, grayMean: Int)

  /** All image XObjects reachable from each page's resources, form-recursive
    * (depth-capped, cycle-guarded), in (page, name) order. A form stamped on
    * several pages re-lists its images per page — the row is a *reference*
    * to the image from that page, not a decoded copy. */
  def list(doc: PdfDocument): Vector[PdfImage] = {
    val file = doc.file
    val out = Vector.newBuilder[PdfImage]
    doc.pages.zipWithIndex.foreach { case (p, pi) =>
      try {
        val rows = collection.mutable.SortedMap.empty[String, PdfImage]
        walkResources(file, p.attr("Resources"), "", pi, 0,
          collection.mutable.Set.empty[Any], rows)
        out ++= rows.valuesIterator
      } catch { case scala.util.control.NonFatal(_) => () } // never-fail (S6)
    }
    out.result()
  }

  private def walkResources(
      file: PdfFile, resObj: Option[PObj], prefix: String, page: Int, depth: Int,
      seen: collection.mutable.Set[Any],
      rows: collection.mutable.SortedMap[String, PdfImages.PdfImage]): Unit = {
    if (depth > 6) return
    val xobj = resObj.map(file.resolve) match {
      case Some(d: PDict) => file.dictGet(d, "XObject") match {
        case Some(x: PDict) => x
        case _ => PDict(Map.empty)
      }
      case _ => PDict(Map.empty)
    }
    xobj.entries.foreach { case (name, ref) =>
      val refKey = ref match { case PRef(n, g) => Some((n, g)); case _ => None }
      file.resolve(ref) match {
        case s: PStream =>
          file.dictGet(s.dict, "Subtype") match {
            case Some(PName("Image")) =>
              rows.getOrElseUpdate(prefix + name, describe(file, prefix + name, page, s))
            case Some(PName("Form")) =>
              // cycle guard covers BOTH reference shapes: indirect forms key
              // on (num, gen), direct stream values on reference identity (an
              // identity WRAPPER, not identityHashCode — hash codes collide;
              // eq does not). Direct values cannot syntactically
              // self-reference, so for them this is belt-and-braces under the
              // depth cap, but it must never skip a distinct sibling form.
              val cycleKey: Any = refKey.getOrElse(new IdentityKey(s))
              if (seen.add(cycleKey)) {
                // nested images keep a path-qualified name so two forms' /Im0
                // don't collide in the per-page listing
                walkResources(file, file.dictGet(s.dict, "Resources"),
                  prefix + name + "/", page, depth + 1, seen, rows)
                seen.remove(cycleKey) // same form may recur on a later branch
              }
            case _ => ()
          }
        case _ => ()
      }
    }
  }

  /** Reference-equality set key: hashes by identity, equals by `eq` — unlike
    * a bare identityHashCode, two distinct objects can never collide. */
  private final class IdentityKey(val o: AnyRef) {
    override def hashCode: Int = System.identityHashCode(o)
    override def equals(that: Any): Boolean = that match {
      case k: IdentityKey => k.o eq o
      case _ => false
    }
  }

  private def num(file: PdfFile, d: PDict, key: String, dflt: Int): Int =
    file.dictGet(d, key) match { case Some(PNum(v)) => v.toInt; case _ => dflt }

  private def bool(file: PdfFile, d: PDict, key: String, dflt: Boolean): Boolean =
    file.dictGet(d, key) match { case Some(PBool(v)) => v; case _ => dflt }

  /** Filter chain names, resolved (same shapes Filters.decode accepts). */
  private def filterNames(file: PdfFile, d: PDict): Vector[String] =
    file.dictGet(d, "Filter") match {
      case Some(PName(n)) => Vector(n)
      case Some(PArr(items)) => items.map(file.resolve).collect { case PName(n) => n }
      case _ => Vector.empty
    }

  private def colorSpaceName(file: PdfFile, d: PDict): String =
    file.dictGet(d, "ColorSpace") match {
      case Some(PName(n)) => n
      case Some(PArr(items)) if items.nonEmpty =>
        file.resolve(items.head) match { case PName(n) => n; case _ => "?" }
      case _ => "" // allowed for image masks
    }

  /** Sample layout for a raw (post-Flate/LZW) image: components per pixel,
    * plus the palette when /Indexed (palette bytes are base-space samples).
    * None → unsupported family, metadata-only row. */
  private def rawLayout(file: PdfFile, d: PDict): Option[(Int, Option[(Int, Array[Byte])])] = {
    def components(cs: PObj, depth: Int): Option[(Int, Option[(Int, Array[Byte])])] = {
      if (depth > 3) return None
      file.resolve(cs) match {
        case PName("DeviceGray") | PName("CalGray") | PName("G") |
             PName("Separation") => Some((1, None))
        case PName("DeviceRGB") | PName("CalRGB") | PName("RGB") | PName("Lab") =>
          Some((3, None))
        case PName("DeviceCMYK") | PName("CMYK") => Some((4, None))
        case PArr(items) if items.nonEmpty =>
          file.resolve(items.head) match {
            case PName("ICCBased") if items.length >= 2 =>
              file.resolve(items(1)) match {
                case s: PStream => file.dictGet(s.dict, "N") match {
                  case Some(PNum(n)) if Set(1, 3, 4)(n.toInt) => Some((n.toInt, None))
                  case _ => None
                }
                case _ => None
              }
            case PName("Indexed") | PName("I") if items.length >= 4 =>
              components(items(1), depth + 1).flatMap { case (baseComps, _) =>
                val palette: Option[Array[Byte]] = file.resolve(items(3)) match {
                  case PStr(b) => Some(b)
                  case s: PStream => Some(file.decodeStream(s))
                  case _ => None
                }
                palette.map(p => (1, Some((baseComps, p))))
              }
            case PName("CalGray") => Some((1, None))
            case PName("CalRGB") | PName("Lab") => Some((3, None))
            case _ => None
          }
        case _ => None
      }
    }
    if (bool(file, d, "ImageMask", dflt = false)) Some((1, None))
    else file.dictGet(d, "ColorSpace") match {
      case Some(cs) => components(cs, 0)
      case None => None
    }
  }

  /** Unpack raw packed samples into a BufferedImage (bpc ∈ {1,2,4,8,16};
    * 16-bit samples keep the high byte). CMYK converts naively
    * (r = 255 − min(255, c·k-scaled)); /Indexed maps through the palette. */
  private def rawToImage(
      payload: Array[Byte], w: Int, h: Int, bpc: Int, comps: Int,
      palette: Option[(Int, Array[Byte])]): Option[java.awt.image.BufferedImage] = {
    if (w <= 0 || h <= 0 || w.toLong * h > 64L * 1024 * 1024) return None
    if (!Set(1, 2, 4, 8, 16)(bpc)) return None
    val rowBytes = (w.toLong * comps * bpc + 7) / 8
    if (payload.length < rowBytes * h) return None
    val maxVal = (1 << math.min(bpc, 8)) - 1
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val sample = new Array[Int](4)
    val row = new Array[Int](w) // bulk per-row write — per-pixel setRGB is ~10× slower
    var y = 0
    while (y < h) {
      val rowOff = y * rowBytes
      var x = 0
      while (x < w) {
        var c = 0
        while (c < comps) {
          val idx = (x.toLong * comps + c) * bpc
          val v = bpc match {
            case 8 => payload((rowOff + idx / 8).toInt) & 0xff
            case 16 => payload((rowOff + idx / 8).toInt) & 0xff // hi byte
            case _ =>
              val b = payload((rowOff + idx / 8).toInt) & 0xff
              val shift = 8 - bpc - (idx % 8).toInt
              ((b >> shift) & maxVal) * 255 / maxVal
          }
          sample(c) = v
          c += 1
        }
        val rgb = palette match {
          case Some((baseComps, pal)) =>
            val base = sample(0) * maxVal / 255 // un-scale back to the index
            val off = base * baseComps
            if (off + baseComps <= pal.length) baseComps match {
              case 1 => val g = pal(off) & 0xff; (g << 16) | (g << 8) | g
              case 3 => ((pal(off) & 0xff) << 16) | ((pal(off + 1) & 0xff) << 8) | (pal(off + 2) & 0xff)
              case _ =>
                val k = pal(off + 3) & 0xff
                def conv(ch: Int) = 255 - math.min(255, (pal(off + ch) & 0xff) + k)
                (conv(0) << 16) | (conv(1) << 8) | conv(2)
            } else 0
          case None => comps match {
            case 1 => (sample(0) << 16) | (sample(0) << 8) | sample(0)
            case 3 => (sample(0) << 16) | (sample(1) << 8) | sample(2)
            case _ =>
              def conv(ch: Int) = 255 - math.min(255, sample(ch) + sample(3))
              (conv(0) << 16) | (conv(1) << 8) | conv(2)
          }
        }
        row(x) = rgb
        x += 1
      }
      img.setRGB(0, y, w, 1, row, 0, w)
      y += 1
    }
    Some(img)
  }

  /** The stream's DecodeParms dict for its image codec — the LAST dict in an
    * array chain (the image codec is always the last filter), a bare dict,
    * or empty. */
  private def decodeParms(file: PdfFile, d: PDict): PDict =
    (file.dictGet(d, "DecodeParms").orElse(file.dictGet(d, "DP"))
      .map(file.resolve) match {
        case Some(p: PDict) => Some(p)
        case Some(PArr(items)) =>
          items.map(file.resolve).reverse.collectFirst { case p: PDict => p }
        case _ => None
      }).getOrElse(PDict(Map.empty))

  private def describe(file: PdfFile, name: String, page: Int, s: PStream): PdfImage = {
    val d = s.dict
    val w = num(file, d, "Width", -1)
    val h = num(file, d, "Height", -1)
    val bpc = num(file, d, "BitsPerComponent",
      if (bool(file, d, "ImageMask", dflt = false)) 1 else -1)
    val filters = filterNames(file, d)
    val filter = filters.lastOption.getOrElse("None")
    val cs = colorSpaceName(file, d)
    val decoded: Option[java.awt.image.BufferedImage] =
      try {
        // Filters.decode runs the pre-filters and stops at the image codec, so
        // `payload` is the codec's own byte stream (or raw samples if none)
        lazy val payload = Filters.decode(s, file.resolve)
        filter match {
          case "DCTDecode" | "DCT" =>
            Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
          case "CCITTFaxDecode" | "CCF" =>
            val parms = decodeParms(file, d)
            val cols = num(file, parms, "Columns", 1728)
            val rowsN = math.max(1, num(file, parms, "Rows", h))
            val k = num(file, parms, "K", 0)
            val blackIs1 = bool(file, parms, "BlackIs1", dflt = false)
            val byteAlign = bool(file, parms, "EncodedByteAlign", dflt = false)
            val tiff = wrapCcittAsTiff(payload, cols, rowsN, k, blackIs1, byteAlign)
            Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(tiff)))
          case "None" | "FlateDecode" | "Fl" | "LZWDecode" | "LZW" |
               "ASCIIHexDecode" | "AHx" | "ASCII85Decode" | "A85" |
               "RunLengthDecode" | "RL" =>
            // no image codec in the chain: the payload is raw packed samples
            rawLayout(file, d).flatMap { case (comps, palette) =>
              rawToImage(payload, w, h, math.max(1, bpc), comps, palette)
            }
          case "JBIG2Decode" =>
            // real decode (graft.pdf.Jbig2, from the public spec): arithmetic
            // generic regions (templates 0-3 + TPGDON), MMR via the JDK fax
            // codec, symbol-coded text (dictionaries + text regions), and
            // refinement incl. REFAGG aggregation; huffman-coded tables and
            // halftone regions return None → metadata-only row. A DecodeParms
            // /JBIG2Globals stream (where real scans keep their shared symbol
            // dictionaries) is walked before the page chunk, mirroring the
            // reference's two-chunk wiring (pdf.combined.js ~22530-22556).
            // JBIG2 convention: decoded 1 = black (the filter's output maps
            // to gray 0, the same inversion every conformant viewer applies)
            val globals = file.dictGet(decodeParms(file, d), "JBIG2Globals")
              .map(file.resolve).collect {
                case g: PStream => Filters.decode(g, file.resolve)
              }
            Jbig2.decodeEmbedded(payload, w, h, globals).map { bits =>
              val img = new java.awt.image.BufferedImage(
                w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val row = new Array[Int](w)
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  row(x) = if (bits(y * w + x) != 0) 0x000000 else 0xffffff
                  x += 1
                }
                img.setRGB(0, y, w, 1, row, 0, w)
                y += 1
              }
              img
            }
          case "JPXDecode" =>
            // real decode (graft.pdf.Jpx, from the public T.800 spec): raw
            // codestreams and JP2 containers, 5/3 + 9/7 wavelets, EBCOT
            // Tier-1/Tier-2, RCT/ICT, component subsampling (4:2:0/4:2:2
            // chroma replicated to the reference grid). Outside-subset
            // streams (custom precincts, bypass coding, ROI) →
            // metadata-only row.
            Jpx.decode(payload).map { dec =>
              val img = new java.awt.image.BufferedImage(
                dec.w, dec.h, java.awt.image.BufferedImage.TYPE_INT_RGB)
              val maxV = (1 << dec.bitDepth) - 1
              def to8(v: Int): Int = if (maxV == 255) v else v * 255 / math.max(1, maxV)
              val row = new Array[Int](dec.w)
              var y = 0
              while (y < dec.h) {
                var x = 0
                while (x < dec.w) {
                  val i = y * dec.w + x
                  val rgb =
                    if (dec.comps >= 3) {
                      (to8(dec.planes(0)(i)) << 16) |
                        (to8(dec.planes(1)(i)) << 8) | to8(dec.planes(2)(i))
                    } else {
                      val g = to8(dec.planes(0)(i))
                      (g << 16) | (g << 8) | g
                    }
                  row(x) = rgb
                  x += 1
                }
                img.setRGB(0, y, dec.w, 1, row, 0, dec.w)
                y += 1
              }
              img
            }
          case _ => None // unknown codec — metadata-only
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    decoded match {
      case Some(img) =>
        PdfImage(page, name, w, h, bpc, cs, filter,
          img.getWidth, img.getHeight, img.getColorModel.getNumComponents,
          grayMean(img))
      case None => PdfImage(page, name, w, h, bpc, cs, filter, -1, -1, -1, -1)
    }
  }

  /** Mean luminance (ITU BT.601 integer weights) over a ≤64×64 tap grid —
    * bounded cost regardless of image size, same discipline as
    * graft.ops.Multimodal.decodeImage. */
  private def grayMean(img: java.awt.image.BufferedImage): Int = {
    val w = img.getWidth
    val h = img.getHeight
    if (w <= 0 || h <= 0) return -1
    val stepX = math.max(1, w / 64)
    val stepY = math.max(1, h / 64)
    var sum = 0L
    var n = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        sum += (299 * ((p >> 16) & 0xff) + 587 * ((p >> 8) & 0xff) + 114 * (p & 0xff)) / 1000
        n += 1
        x += stepX
      }
      y += stepY
    }
    math.round(sum.toDouble / n).toInt
  }

  /** Minimal single-strip little-endian TIFF around a raw CCITT G3/G4 payload
    * so the JDK TIFF plugin's fax decompressor decodes it (TIFF 6.0 §2/§11;
    * PDF 32000-1 §7.4.6 parameter mapping):
    *   /K < 0 → Compression 4 (G4) + T6Options;
    *   /K = 0 → Compression 3, 1-D;  /K > 0 → Compression 3, 2-D (T4Options bit 0);
    *   /EncodedByteAlign → T4Options bit 2 (fill bits to byte boundaries);
    *   PhotometricInterpretation 0 (WhiteIsZero) — TIFF 6.0 calls this "the
    *   normal value for Compression=2,3,4": fax white runs decompress to 0
    *   bits and render white. /BlackIs1 inverts the PDF-side sample
    *   convention, so it selects BlackIsZero (1) instead.
    */
  private[pdf] def wrapCcittAsTiff(
      data: Array[Byte], width: Int, height: Int, k: Int,
      blackIs1: Boolean, byteAlign: Boolean): Array[Byte] = {
    final case class Tag(id: Int, typ: Int, value: Long) // typ: 3=SHORT, 4=LONG
    val g4 = k < 0
    val compression = if (g4) 4 else 3
    val options = (if (k > 0) 1L else 0L) | (if (byteAlign && !g4) 4L else 0L)
    val photometric = if (blackIs1) 1 else 0
    val tags = Seq(
      Tag(256, 4, width.toLong), // ImageWidth
      Tag(257, 4, height.toLong), // ImageLength
      Tag(258, 3, 1), // BitsPerSample
      Tag(259, 3, compression.toLong),
      Tag(262, 3, photometric.toLong),
      Tag(273, 4, -1L), // StripOffsets — patched below
      Tag(277, 3, 1), // SamplesPerPixel
      Tag(278, 4, height.toLong), // RowsPerStrip (single strip)
      Tag(279, 4, data.length.toLong), // StripByteCounts
      Tag(if (g4) 293 else 292, 4, if (g4) 0L else options) // T6/T4 options
    ).sortBy(_.id)
    val ifdOffset = 8
    val stripOffset = ifdOffset + 2 + tags.length * 12 + 4
    val buf = java.nio.ByteBuffer.allocate(stripOffset + data.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put('I'.toByte).put('I'.toByte).putShort(42).putInt(ifdOffset)
    buf.putShort(tags.length.toShort)
    tags.foreach { t =>
      buf.putShort(t.id.toShort).putShort(t.typ.toShort).putInt(1)
      val v = if (t.id == 273) stripOffset.toLong else t.value
      if (t.typ == 3) buf.putShort(v.toShort).putShort(0) else buf.putInt(v.toInt)
    }
    buf.putInt(0) // next-IFD terminator
    buf.put(data)
    buf.array()
  }
}
