package graft.testgen

import graft.pdf.{Jbig2, Jbig2Huffman}

/** Deterministic JBIG2 ENCODER for fixtures (T.88 Annex E encoder procedures
  * + generic region coding): the decoding lane needs real arithmetic-coded
  * streams to decode, and no JDK codec can produce them. Encodes a bitmap as
  * one immediate generic region segment in the PDF-embedded format (no file
  * header), which `Jbig2.decodeEmbedded` — and any conformant decoder — reads
  * back. Test/synthesis support, not a product surface.
  */
object Jbig2Synth {

  /** MQ arithmetic encoder (T.88 E.3.5-E.3.8: CODEMPS/CODELPS, BYTEOUT with
    * 0xFF stuffing, SETBITS flush). A carry that would propagate into the
    * conventionally-discarded sentinel byte materializes as a real leading
    * byte instead (the code string the arithmetic actually requires). */
  final class MqEncoder {
    private var a = 0x8000
    private var c = 0L
    private var ct = 12
    private val bytes = scala.collection.mutable.ArrayBuffer.empty[Int]

    def encode(cx: Array[Int], i: Int, d: Int): Unit = {
      var icx = cx(i) >> 1
      var mps = cx(i) & 1
      val qe = Jbig2.Qe(icx)
      if (d == mps) {
        // CODEMPS
        a -= qe
        if ((a & 0x8000) == 0) {
          if (a < qe) a = qe else c += qe
          icx = Jbig2.Nmps(icx)
          renorm()
        } else c += qe
      } else {
        // CODELPS
        a -= qe
        if (a < qe) c += qe else a = qe
        if (Jbig2.Switch(icx) == 1) mps = 1 - mps
        icx = Jbig2.Nlps(icx)
        renorm()
      }
      cx(i) = (icx << 1) | mps
    }

    private def renorm(): Unit = {
      var go = true
      while (go) {
        a = (a << 1) & 0xffff
        c = (c << 1) & 0xfffffffL // 28-bit register, carry handled in byteOut
        ct -= 1
        if (ct == 0) byteOut()
        go = (a & 0x8000) == 0
      }
    }

    private def byteOut(): Unit = {
      val b = if (bytes.isEmpty) 0 else bytes.last
      if (b == 0xff) {
        bytes += (c >> 20).toInt
        c &= 0xfffff
        ct = 7
      } else if (c < 0x8000000L) {
        bytes += (c >> 19).toInt
        c &= 0x7ffff
        ct = 8
      } else {
        // carry into the previous byte
        if (bytes.isEmpty) bytes += 1 else bytes(bytes.length - 1) = b + 1
        if (bytes.last == 0xff) {
          c &= 0x7ffffff
          bytes += (c >> 20).toInt
          c &= 0xfffff
          ct = 7
        } else {
          bytes += ((c & 0x7ffffffL) >> 19).toInt
          c &= 0x7ffff
          ct = 8
        }
      }
    }

    /** FLUSH (E.3.8): SETBITS (pick a code value inside the final interval
      * [C, C+A) with maximal trailing ones) then two byte-outs and the FF AC
      * terminator. C stays below 2^(28-CT) between byte-outs, so the shifts
      * never overflow the 28-bit register. */
    def flush(): Array[Byte] = {
      val tempc = c + a
      c |= 0xffffL
      if (c >= tempc) c -= 0x8000
      c <<= ct
      byteOut()
      c <<= ct
      byteOut()
      if (bytes.isEmpty || bytes.last != 0xff) bytes += 0xff
      bytes += 0xac
      bytes.map(_.toByte).toArray
    }
  }

  /** Encode a bitmap (row-major, nonzero = black) as a generic region with
    * `template` (nominal AT positions) — the exact inverse of
    * `Jbig2.decodeGenericRegion` context formation. With `tpgdon`, rows equal
    * to their predecessor (and leading all-zero rows) encode as one typical-
    * prediction pseudo-pixel instead of per-pixel decisions (6.2.5.7). */
  def encodeGenericRegion(bitmap: Array[Byte], w: Int, h: Int, template: Int = 0,
      tpgdon: Boolean = false): Array[Byte] = {
    val enc = new MqEncoder
    encodeGenericInto(enc, new Array[Int](1 << 16), bitmap, w, h, template, tpgdon)
    enc.flush()
  }

  /** Generic-bitmap encode over a caller-owned encoder/context — symbol
    * dictionaries encode many bitmaps into one arithmetic stream with one
    * shared generic context (the encode mirror of Jbig2.decodeGenericInto). */
  private def encodeGenericInto(enc: MqEncoder, cx: Array[Int],
      bitmap: Array[Byte], w: Int, h: Int, template: Int,
      tpgdon: Boolean, atOverride: Array[(Int, Int)] = null,
      /** USESKIP mirror (6.2.5.7): flagged pixels encode nothing; the
        * bitmap must carry 0 there so contexts match the decoder's. */
      skip: Array[Byte] = null): Unit = {
    val at = if (atOverride != null) atOverride else nominalAt(template)
    val tmpl = Jbig2.templatePoints(template, at)
    val ltpCx = Jbig2.ltpContext(template)
    var ltp = false
    var y = 0
    while (y < h) {
      var skipRow = false
      if (tpgdon) {
        var typical = true
        var x = 0
        while (typical && x < w) {
          val prev = if (y > 0 && bitmap((y - 1) * w + x) != 0) 1 else 0
          val cur = if (bitmap(y * w + x) != 0) 1 else 0
          typical = prev == cur
          x += 1
        }
        enc.encode(cx, ltpCx, if (typical != ltp) 1 else 0)
        ltp = typical
        skipRow = ltp
      }
      if (!skipRow) {
        var x = 0
        while (x < w) {
          if (skip != null && skip(y * w + x) != 0) {
            require(bitmap(y * w + x) == 0, "skipped pixels must be 0")
          } else {
            var ctx = 0
            var t = 0
            while (t < tmpl.length) {
              val (dx, dy) = tmpl(t)
              val xx = x + dx
              val yy = y + dy
              val bit =
                if (xx < 0 || xx >= w || yy < 0) 0
                else if (bitmap(yy * w + xx) != 0) 1 else 0
              ctx = (ctx << 1) | bit
              t += 1
            }
            enc.encode(cx, ctx, if (bitmap(y * w + x) != 0) 1 else 0)
          }
          x += 1
        }
      }
      y += 1
    }
  }

  def nominalAt(template: Int): Array[(Int, Int)] = template match {
    case 0 => Array((3, -1), (-3, -1), (2, -2), (-2, -2))
    case 2 => Array((2, -1))
    case 3 => Array((2, -1))
    case _ => Array((3, -1))
  }

  // ── symbol-coded JBIG2 (T.88 6.4/6.5 encode side) ─────────────────────────

  /** Arithmetic integer ENCODING procedure (mirror of Jbig2.decodeInt /
    * T.88 A.2-A.3): sign bit, range-prefix bits, fixed-width value bits, all
    * MQ-coded against the running PREV context. None encodes OOB. */
  private[graft] def encodeInt(enc: MqEncoder, cx: Array[Int], value: Option[Int]): Unit = {
    var prev = 1
    def bit(b: Int): Unit = {
      enc.encode(cx, prev, b)
      prev = if (prev < 256) (prev << 1) | b else ((((prev << 1) | b) & 511) | 256)
    }
    def bits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit(((v >>> i) & 1L).toInt); i -= 1 }
    }
    value match {
      case None => bit(1); bit(0); bits(0, 2) // OOB = negative zero
      case Some(x) =>
        bit(if (x < 0) 1 else 0)
        val v = math.abs(x.toLong)
        if (v <= 3) { bit(0); bits(v, 2) }
        else if (v <= 19) { bit(1); bit(0); bits(v - 4, 4) }
        else if (v <= 83) { bit(1); bit(1); bit(0); bits(v - 20, 6) }
        else if (v <= 339) { bit(1); bit(1); bit(1); bit(0); bits(v - 84, 8) }
        else if (v <= 4435) { bit(1); bit(1); bit(1); bit(1); bit(0); bits(v - 340, 12) }
        else { bit(1); bit(1); bit(1); bit(1); bit(1); bits(v - 4436, 32) }
    }
  }

  /** Symbol-ID encode: SYMCODELEN bits of the id, MSB first, tree contexts. */
  private[graft] def encodeIaid(enc: MqEncoder, cx: Array[Int], symCodeLen: Int, id: Int): Unit = {
    var prev = 1
    var k = symCodeLen - 1
    while (k >= 0) {
      val b = (id >>> k) & 1
      enc.encode(cx, prev, b)
      prev = (prev << 1) | b
      k -= 1
    }
  }

  /** A glyph bitmap from an ASCII art pattern ('#' = black). */
  def glyph(rows: Seq[String]): Jbig2.Bitmap = {
    val h = rows.length
    val w = rows.head.length
    val bits = new Array[Byte](w * h)
    rows.zipWithIndex.foreach { case (r, y) =>
      r.zipWithIndex.foreach { case (c, x) => if (c == '#') bits(y * w + x) = 1 }
    }
    Jbig2.Bitmap(w, h, bits)
  }

  /** Refinement-bitmap encode (mirror of Jbig2.decodeRefinementInto — same
    * context order and spec sign convention for the reference displacement). */
  private def encodeRefinementInto(enc: MqEncoder, cx: Array[Int],
      bitmap: Array[Byte], w: Int, h: Int, rTemplate: Int,
      ref: Jbig2.Bitmap, dx: Int, dy: Int, rAt: Array[(Int, Int)],
      tpgron: Boolean = false): Unit = {
    // the template lists are the decoder's own (shared — a matched-pair edit
    // cannot silently diverge)
    val coding =
      if (rTemplate == 0) Jbig2.RefinementCoding(0) :+ rAt(0)
      else Jbig2.RefinementCoding(1)
    val refT =
      if (rTemplate == 0) Jbig2.RefinementReference(0) :+ rAt(1)
      else Jbig2.RefinementReference(1)
    val sltpCtx = Jbig2.refSltpContext(rTemplate)
    def refAt(j0: Int, i0: Int): Int =
      if (i0 < 0 || i0 >= ref.h || j0 < 0 || j0 >= ref.w) 0
      else if (ref.bits(i0 * ref.w + j0) != 0) 1 else 0
    def uniform(x: Int, y: Int): Int = { // -1 = not uniform, else the value
      val v0 = refAt(x - dx - 1, y - dy - 1)
      var dyy = -1
      while (dyy <= 1) {
        var dxx = -1
        while (dxx <= 1) {
          if (refAt(x - dx + dxx, y - dy + dyy) != v0) return -1
          dxx += 1
        }
        dyy += 1
      }
      v0
    }
    var ltp = false
    var y = 0
    while (y < h) {
      if (tpgron) {
        // take LTP for a row iff every uniform-neighborhood pixel matches
        // its prediction (those pixels are then skipped by the decoder)
        var typicalRow = true
        var x = 0
        while (typicalRow && x < w) {
          val u = uniform(x, y)
          if (u >= 0 && (if (bitmap(y * w + x) != 0) 1 else 0) != u) typicalRow = false
          x += 1
        }
        enc.encode(cx, sltpCtx, if (typicalRow != ltp) 1 else 0)
        ltp = typicalRow
      }
      var x = 0
      while (x < w) {
        if (!(ltp && uniform(x, y) >= 0)) {
          var ctx = 0
          coding.foreach { case (tx, ty) =>
            val j0 = x + tx
            val i0 = y + ty
            val bit = if (i0 < 0 || i0 >= h || j0 < 0 || j0 >= w) 0
              else if (bitmap(i0 * w + j0) != 0) 1 else 0
            ctx = (ctx << 1) | bit
          }
          refT.foreach { case (tx, ty) =>
            ctx = (ctx << 1) | refAt(x + tx - dx, y + ty - dy)
          }
          enc.encode(cx, ctx, if (bitmap(y * w + x) != 0) 1 else 0)
        }
        x += 1
      }
      y += 1
    }
  }

  private val NominalRefAt = Array((-2, -1), (-2, -2))

  /** One REFAGG dictionary entry: either a single-instance refinement of an
    * available symbol, or a multi-instance aggregate (inner text region). */
  sealed trait DictEntry { def w: Int; def h: Int }
  final case class RefineOne(bm: Jbig2.Bitmap, refId: Int, rdx: Int, rdy: Int)
      extends DictEntry {
    def w: Int = bm.w
    def h: Int = bm.h
  }
  final case class AggSym(w: Int, h: Int, instances: Seq[(Int, Int, Int)])
      extends DictEntry

  /** REFAGG symbol dictionary DATA (7.4.3): mixed single-instance refinement
    * and multi-instance aggregation entries over ONE shared adaptive-context
    * set (IAID/IARDX/IARDY/GR and the inner-text contexts persist across the
    * whole dictionary — the decoder's TextRegionState discipline). Entries
    * must be sorted by non-decreasing height; inputs are not exported. */
  def encodeMixedDictData(inputs: Seq[Jbig2.Bitmap], entries: Seq[DictEntry],
      rTemplate: Int = 0): Array[Byte] = {
    require(entries.nonEmpty && entries.sliding(2).forall {
      case Seq(a, b) => a.h <= b.h
      case _ => true
    }, "entries must be sorted by height")
    val template = 0
    val inputCount = inputs.length
    val symCodeLen = Jbig2.ceilLog2(inputCount + entries.length)
    val enc = new MqEncoder
    val iadh = new Array[Int](512)
    val iadw = new Array[Int](512)
    val iaex = new Array[Int](512)
    val iaai = new Array[Int](512)
    // dictionary-wide shared contexts (mirror of the decoder's trState)
    val iardx = new Array[Int](512)
    val iardy = new Array[Int](512)
    val iaidCx = new Array[Int](1 << (symCodeLen + 1))
    val grCx = new Array[Int](1 << 13)
    val tIadt = new Array[Int](512)
    val tIafs = new Array[Int](512)
    val tIads = new Array[Int](512)
    val tIari = new Array[Int](512)
    val realized = scala.collection.mutable.ArrayBuffer.empty[Jbig2.Bitmap]
    def avail(i: Int): Jbig2.Bitmap =
      if (i < inputCount) inputs(i) else realized(i - inputCount)
    var i = 0
    var prevH = 0
    while (i < entries.length) {
      val h = entries(i).h
      encodeInt(enc, iadh, Some(h - prevH))
      prevH = h
      var prevW = 0
      while (i < entries.length && entries(i).h == h) {
        val e = entries(i)
        encodeInt(enc, iadw, Some(e.w - prevW))
        prevW = e.w
        e match {
          case RefineOne(bm, refId, rdx, rdy) =>
            require(refId >= 0 && refId < inputCount + realized.length,
              s"refId $refId not yet available")
            encodeInt(enc, iaai, Some(1))
            encodeIaid(enc, iaidCx, symCodeLen, refId)
            encodeInt(enc, iardx, Some(rdx))
            encodeInt(enc, iardy, Some(rdy))
            encodeRefinementInto(enc, grCx, bm.bits, bm.w, bm.h, rTemplate,
              avail(refId), rdx, rdy, NominalRefAt)
            realized += bm
          case AggSym(w, hh, instances) =>
            require(instances.length > 1, "aggregate needs > 1 instances")
            encodeInt(enc, iaai, Some(instances.length))
            // inner text body: strips of 1, TL corner, refine ON (IARI=0)
            val strips = instances.groupBy(_._3).toSeq.sortBy(_._1)
              .map { case (t, is) => (t, is.sortBy(_._2)) }
            encodeInt(enc, tIadt, Some(0))
            var stripT = 0
            var firstS = 0
            strips.foreach { case (t, is) =>
              encodeInt(enc, tIadt, Some(t - stripT))
              stripT = t
              var curS = 0
              is.zipWithIndex.foreach { case ((id, x, _), k) =>
                require(id >= 0 && id < inputCount + realized.length,
                  s"aggregate instance id $id not yet available")
                if (k == 0) { encodeInt(enc, tIafs, Some(x - firstS)); firstS = x; curS = x }
                else { encodeInt(enc, tIads, Some(x - curS)); curS = x }
                encodeIaid(enc, iaidCx, symCodeLen, id)
                encodeInt(enc, tIari, Some(0))
                curS += avail(id).w - 1
              }
              encodeInt(enc, tIads, None)
            }
            // realize the composite so later entries can reference it
            val comp = new Array[Byte](w * hh)
            instances.foreach { case (id, x, y) =>
              val g = avail(id)
              var yy = 0
              while (yy < g.h) {
                var xx = 0
                while (xx < g.w) {
                  if (g.bits(yy * g.w + xx) != 0 && y + yy < hh && x + xx < w)
                    comp((y + yy) * w + (x + xx)) = 1
                  xx += 1
                }
                yy += 1
              }
            }
            realized += Jbig2.Bitmap(w, hh, comp)
        }
        i += 1
      }
      encodeInt(enc, iadw, None)
    }
    encodeInt(enc, iaex, Some(inputCount)) // inputs: not exported
    encodeInt(enc, iaex, Some(entries.length)) // new: exported
    val mq = enc.flush()
    val at = nominalAt(template)
    val flags = 2 | ((template & 3) << 10) | ((rTemplate & 1) << 12) // REFAGG
    val rAtBytes = if (rTemplate == 0) 4 else 0
    val out = java.nio.ByteBuffer.allocate(2 + 2 * at.length + rAtBytes + 8 + mq.length)
    out.putShort(flags.toShort)
    at.foreach { case (ax, ay) => out.put(ax.toByte).put(ay.toByte) }
    if (rTemplate == 0)
      NominalRefAt.foreach { case (ax, ay) => out.put(ax.toByte).put(ay.toByte) }
    out.putInt(entries.length) // SDNUMEXSYMS
    out.putInt(entries.length) // SDNUMNEWSYMS
    out.put(mq)
    out.array()
  }

  /** Single-instance-only REFAGG dictionary (delegates to the mixed form). */
  def encodeRefAggDictData(inputs: Seq[Jbig2.Bitmap],
      newSyms: Seq[(Jbig2.Bitmap, Int, Int, Int)], // (bitmap, refId, rdx, rdy)
      rTemplate: Int = 0): Array[Byte] =
    encodeMixedDictData(inputs,
      newSyms.map { case (bm, refId, rdx, rdy) => RefineOne(bm, refId, rdx, rdy) },
      rTemplate)

  /** Single-aggregate REFAGG dictionary (delegates to the mixed form). */
  def encodeAggDictData(inputs: Seq[Jbig2.Bitmap], aggW: Int, aggH: Int,
      instances: Seq[(Int, Int, Int)], rTemplate: Int = 0): Array[Byte] =
    encodeMixedDictData(inputs, Seq(AggSym(aggW, aggH, instances)), rTemplate)

  /** Text region DATA with per-instance refinement: `refined` replaces the
    * dictionary glyph for that instance (rdw/rdh from the dims, rdx=rdy=0). */
  def encodeTextRegionRefineData(rw: Int, rh: Int,
      glyphs: Seq[Jbig2.Bitmap],
      instances: Seq[(Int, Int, Int, Option[Jbig2.Bitmap])],
      rTemplate: Int = 0): Array[Byte] = {
    val symCodeLen = Jbig2.ceilLog2(glyphs.length)
    val enc = new MqEncoder
    val iadt = new Array[Int](512)
    val iafs = new Array[Int](512)
    val iads = new Array[Int](512)
    val iari = new Array[Int](512)
    val iardw = new Array[Int](512)
    val iardh = new Array[Int](512)
    val iardx = new Array[Int](512)
    val iardy = new Array[Int](512)
    val grCx = new Array[Int](1 << 13)
    val iaidCx = new Array[Int](1 << (symCodeLen + 1))
    val strips = instances.groupBy(_._3).toSeq.sortBy(_._1)
      .map { case (t, is) => (t, is.sortBy(_._2)) } // TL corner: t = y
    encodeInt(enc, iadt, Some(0))
    var stripT = 0
    var firstS = 0
    strips.foreach { case (t, is) =>
      encodeInt(enc, iadt, Some(t - stripT))
      stripT = t
      var curS = 0
      is.zipWithIndex.foreach { case ((id, x, _, refinedOpt), k) =>
        if (k == 0) { encodeInt(enc, iafs, Some(x - firstS)); firstS = x; curS = x }
        else { encodeInt(enc, iads, Some(x - curS)); curS = x }
        encodeIaid(enc, iaidCx, symCodeLen, id)
        val drawn = refinedOpt match {
          case None => encodeInt(enc, iari, Some(0)); glyphs(id)
          case Some(r) =>
            encodeInt(enc, iari, Some(1))
            val rdw = r.w - glyphs(id).w
            val rdh = r.h - glyphs(id).h
            encodeInt(enc, iardw, Some(rdw))
            encodeInt(enc, iardh, Some(rdh))
            encodeInt(enc, iardx, Some(-(rdw >> 1))) // net offset 0 after (rdw>>1)+rdx
            encodeInt(enc, iardy, Some(-(rdh >> 1)))
            encodeRefinementInto(enc, grCx, r.bits, r.w, r.h, rTemplate,
              glyphs(id), 0, 0, NominalRefAt)
            r
        }
        curS += drawn.w - 1
      }
      encodeInt(enc, iads, None)
    }
    val mq = enc.flush()
    val flags = 2 | (1 << 4) | ((rTemplate & 1) << 15) // REFINE, TL corner
    val rAtBytes = if (rTemplate == 0) 4 else 0
    val out = java.nio.ByteBuffer.allocate(17 + 2 + rAtBytes + 4 + mq.length)
    out.putInt(rw).putInt(rh).putInt(0).putInt(0)
    out.put(0.toByte)
    out.putShort(flags.toShort)
    if (rTemplate == 0)
      NominalRefAt.foreach { case (ax, ay) => out.put(ax.toByte).put(ay.toByte) }
    out.putInt(instances.length)
    out.put(mq)
    out.array()
  }

  /** Symbol dictionary segment DATA (7.4.3): glyphs MUST be ordered by
    * non-decreasing height (height classes); all are exported. */
  def encodeSymbolDictData(glyphs: Seq[Jbig2.Bitmap], template: Int = 0): Array[Byte] = {
    require(glyphs.nonEmpty && glyphs.sliding(2).forall {
      case Seq(a, b) => a.h <= b.h
      case _ => true
    }, "glyphs must be sorted by height")
    val enc = new MqEncoder
    val iadh = new Array[Int](512)
    val iadw = new Array[Int](512)
    val iaex = new Array[Int](512)
    val genCx = new Array[Int](1 << 16)
    var i = 0
    var prevH = 0
    while (i < glyphs.length) {
      val h = glyphs(i).h
      encodeInt(enc, iadh, Some(h - prevH)) // IADH
      prevH = h
      var prevW = 0
      while (i < glyphs.length && glyphs(i).h == h) {
        encodeInt(enc, iadw, Some(glyphs(i).w - prevW)) // IADW
        prevW = glyphs(i).w
        encodeGenericInto(enc, genCx, glyphs(i).bits, glyphs(i).w, h, template, tpgdon = false)
        i += 1
      }
      encodeInt(enc, iadw, None) // OOB ends the height class
    }
    // export all: run of 0 unexported, then run of all exported
    encodeInt(enc, iaex, Some(0))
    encodeInt(enc, iaex, Some(glyphs.length))
    val mq = enc.flush()
    val at = nominalAt(template)
    val out = java.nio.ByteBuffer.allocate(2 + 2 * at.length + 8 + mq.length)
    out.putShort(((template & 3) << 10).toShort) // flags: SDHUFF=0, REFAGG=0
    at.foreach { case (ax, ay) => out.put(ax.toByte).put(ay.toByte) }
    out.putInt(glyphs.length) // SDNUMEXSYMS
    out.putInt(glyphs.length) // SDNUMNEWSYMS
    out.put(mq)
    out.array()
  }

  /** Text region segment DATA (7.4.4): place glyph instances (symbol id,
    * x, y of the glyph's top-left) with the given reference corner. Strips of
    * size 1; every strip — including the last — ends with an OOB IADS, the
    * interchange contract. */
  def encodeTextRegionData(rw: Int, rh: Int,
      glyphs: Seq[Jbig2.Bitmap], instances: Seq[(Int, Int, Int)],
      refCorner: Int = 1, combOp: Int = 0): Array[Byte] = {
    val symCodeLen = Jbig2.ceilLog2(glyphs.length)
    val enc = new MqEncoder
    val iadt = new Array[Int](512)
    val iafs = new Array[Int](512)
    val iads = new Array[Int](512)
    val iaidCx = new Array[Int](1 << (symCodeLen + 1))
    // decoder coordinates (spec-correct corners, T.88 6.4.5 3c): the S axis
    // is corner-INVARIANT — right corners pre-advance CURS by w−1 before
    // drawing, so the left edge always sits at the incoming CURS and s = x
    // for every corner. Only the T axis moves: a bottom corner puts the
    // glyph's bottom ROW at t (t = y + h − 1).
    def tOf(inst: (Int, Int, Int)) =
      inst._3 + (if ((refCorner & 1) != 0) 0 else glyphs(inst._1).h - 1)
    def sOf(inst: (Int, Int, Int)) = inst._2
    val strips = instances.groupBy(tOf).toSeq.sortBy(_._1)
      .map { case (t, is) => (t, is.sortBy(_._2)) }
    encodeInt(enc, iadt, Some(0)) // STRIPT init: stripT = -0
    var stripT = 0
    var firstS = 0
    strips.foreach { case (t, is) =>
      encodeInt(enc, iadt, Some(t - stripT)) // IADT
      stripT = t
      var curS = 0
      is.zipWithIndex.foreach { case (inst, k) =>
        val s = sOf(inst)
        if (k == 0) {
          encodeInt(enc, iafs, Some(s - firstS)) // IAFS
          firstS = s
          curS = s
        } else {
          encodeInt(enc, iads, Some(s - curS)) // IADS (dsOffset 0)
          curS = s
        }
        // strips == 1: no IAIT
        encodeIaid(enc, iaidCx, symCodeLen, inst._1)
        curS += glyphs(inst._1).w - 1 // decoder post-draw advance
      }
      encodeInt(enc, iads, None) // OOB terminates the strip
    }
    val mq = enc.flush()
    // SBHUFF=0 REFINE=0 LOGSBSTRIPS=0; SBCOMBOP at bits 7-8
    val flags = ((refCorner & 3) << 4) | ((combOp & 3) << 7)
    val out = java.nio.ByteBuffer.allocate(17 + 2 + 4 + mq.length)
    out.putInt(rw).putInt(rh).putInt(0).putInt(0)
    out.put(0.toByte) // region combination operator: OR
    out.putShort(flags.toShort)
    out.putInt(instances.length)
    out.put(mq)
    out.array()
  }

  private[graft] def segment(number: Int, segType: Int, referred: Seq[Int],
      data: Array[Byte]): Array[Byte] = {
    require(number <= 255 && referred.forall(_ <= 255))
    // 7.2.4: counts above 4 take the long form — 0b111 marker, 29-bit
    // count, then ceil((count+8)/8) retain-bit bytes (all zero here)
    val longForm = referred.length > 4
    val countBytes = if (longForm) 4 + (referred.length + 8) / 8 else 1
    val out = java.nio.ByteBuffer.allocate(5 + countBytes + referred.length + 1 + 4 + data.length)
    out.putInt(number)
    out.put(segType.toByte) // 1-byte page association
    if (longForm) {
      out.putInt((7 << 29) | referred.length)
      (0 until (referred.length + 8) / 8).foreach(_ => out.put(0.toByte))
    } else out.put((referred.length << 5).toByte) // count + no retain bits
    referred.foreach(r => out.put(r.toByte))
    out.put(1.toByte) // page association
    out.putInt(data.length)
    out.put(data)
    out.array()
  }

  /** PDF-embedded symbol-coded JBIG2 stream: page info + one symbol
    * dictionary + one immediate text region referring to it. */
  def embeddedTextStream(w: Int, h: Int, glyphs: Seq[Jbig2.Bitmap],
      instances: Seq[(Int, Int, Int)], refCorner: Int = 1,
      combOp: Int = 0): Array[Byte] = {
    val page = java.nio.ByteBuffer.allocate(19)
      .putInt(w).putInt(h).putInt(0).putInt(0)
      .put(0.toByte).putShort(0.toShort).array()
    val dict = encodeSymbolDictData(glyphs)
    val text = encodeTextRegionData(w, h, glyphs, instances, refCorner, combOp)
    segment(0, 48, Nil, page) ++
      segment(1, 0, Nil, dict) ++
      segment(2, 6, Seq(1), text)
  }

  /** The same symbol-coded stream split the way real scanned PDFs ship it:
    * the symbol dictionary in a /JBIG2Globals stream (segments with page
    * association 0, PDF 32000-1 §7.4.7), the page info + text region in the
    * image's own stream. Returns (globals, pageData). */
  def embeddedTextStreamWithGlobals(w: Int, h: Int, glyphs: Seq[Jbig2.Bitmap],
      instances: Seq[(Int, Int, Int)],
      refCorner: Int = 1): (Array[Byte], Array[Byte]) = {
    val page = java.nio.ByteBuffer.allocate(19)
      .putInt(w).putInt(h).putInt(0).putInt(0)
      .put(0.toByte).putShort(0.toShort).array()
    val dict = encodeSymbolDictData(glyphs)
    val text = encodeTextRegionData(w, h, glyphs, instances, refCorner)
    val globals = segment(1, 0, Nil, dict)
    val pageData = segment(0, 48, Nil, page) ++ segment(2, 6, Seq(1), text)
    (globals, pageData)
  }

  /** Wrap an encoded generic region as a PDF-embedded JBIG2 stream: a page
    * information segment (type 48 — conformant decoders require it before any
    * region lands on the page) followed by one immediate generic region
    * segment (type 38) covering the full image. */
  def embeddedStream(bitmap: Array[Byte], w: Int, h: Int, template: Int = 0,
      tpgdon: Boolean = false): Array[Byte] = {
    val mq = encodeGenericRegion(bitmap, w, h, template, tpgdon)
    val at = nominalAt(template)
    val nAt = at.length
    val pageLen = 19 // page info (7.4.8): w, h, xres, yres, flags, striping
    val dataLen = 18 + 2 * nAt + mq.length
    val out = java.nio.ByteBuffer.allocate((11 + 4 + pageLen) + (11 + 4 + dataLen))
    out.putInt(0) // page info: segment number 0
    out.put(48.toByte) // type 48, 1-byte page association
    out.put(0.toByte) // referred-to: count 0
    out.put(1.toByte) // page association
    out.putInt(pageLen)
    out.putInt(w).putInt(h).putInt(0).putInt(0) // page dims, unknown resolution
    out.put(0.toByte) // page flags: default pixel 0, OR combination
    out.putShort(0.toShort) // no striping
    out.putInt(1) // region: segment number 1
    out.put(38.toByte) // flags: type 38 (immediate generic region), 1-byte page assoc
    out.put(0.toByte) // referred-to: count 0, no retain bits
    out.put(1.toByte) // page association
    out.putInt(dataLen)
    out.putInt(w).putInt(h).putInt(0).putInt(0) // region info at (0,0)
    out.put(0.toByte) // external combination operator: OR
    out.put((((template & 3) << 1) | (if (tpgdon) 8 else 0)).toByte) // generic flags: MMR=0
    at.foreach { case (ax, ay) => out.put(ax.toByte).put(ay.toByte) }
    out.put(mq)
    out.array()
  }

  /** Raw T.6 (G4) coding of a bitmap through the JDK TIFF writer
    * (compression "CCITT T.6"), strip bytes extracted back out of the written
    * container — an independent codec authors the MMR fixture payload. */
  def encodeMmrG4(bitmap: Array[Byte], w: Int, h: Int): Array[Byte] = {
    import javax.imageio.{ImageIO, ImageWriteParam, IIOImage}
    def write(invert: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_BINARY)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val black = (bitmap(y * w + x) != 0) ^ invert
          img.setRGB(x, y, if (black) 0x000000 else 0xffffff)
          x += 1
        }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
      val writer = ImageIO.getImageWritersByFormatName("tiff").next()
      try {
        val param = writer.getDefaultWriteParam
        param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionType("CCITT T.6")
        writer.setOutput(ios)
        writer.write(null, new IIOImage(img, null, null), param)
      } finally { writer.dispose(); ios.close() }
      baos.toByteArray
    }
    val first = write(invert = false)
    val (photometric, _, _) = parseTiff(first)
    // photometric 1 (BlackIsZero) would swap the codec's white/black run
    // semantics vs the WhiteIsZero wrap the decoder uses — rewrite inverted
    val tiff = if (photometric == 1) write(invert = true) else first
    val (_, stripOff, stripLen) = parseTiff(tiff)
    java.util.Arrays.copyOfRange(tiff, stripOff.toInt, (stripOff + stripLen).toInt)
  }

  /** Single-strip TIFF container parse → (photometric, stripOffset, stripLen). */
  private def parseTiff(tiff: Array[Byte]): (Long, Long, Long) = {
    val le = tiff(0) == 'I'.toByte
    def u16(i: Int) = if (le) (tiff(i) & 0xff) | ((tiff(i + 1) & 0xff) << 8)
      else ((tiff(i) & 0xff) << 8) | (tiff(i + 1) & 0xff)
    def u32(i: Int) = if (le) (tiff(i) & 0xffL) | ((tiff(i + 1) & 0xffL) << 8) |
      ((tiff(i + 2) & 0xffL) << 16) | ((tiff(i + 3) & 0xffL) << 24)
      else ((tiff(i) & 0xffL) << 24) | ((tiff(i + 1) & 0xffL) << 16) |
        ((tiff(i + 2) & 0xffL) << 8) | (tiff(i + 3) & 0xffL)
    val ifd = u32(4).toInt
    val nTags = u16(ifd)
    var photometric = 0L
    var stripOff = -1L
    var stripLen = -1L
    var stripCount = 1L
    (0 until nTags).foreach { t =>
      val base = ifd + 2 + t * 12
      val id = u16(base)
      val typ = u16(base + 2)
      val count = u32(base + 4)
      val value = if (typ == 3) u16(base + 8).toLong else u32(base + 8)
      id match {
        case 262 => photometric = value
        case 273 => stripOff = value; stripCount = count
        case 279 => stripLen = value
        case _ => ()
      }
    }
    require(stripCount == 1 && stripOff > 0 && stripLen > 0,
      s"expected one strip (got $stripCount) — raise the fixture if the JDK writer splits")
    (photometric, stripOff, stripLen)
  }

  /** PDF-embedded MMR-coded generic region stream (gFlags bit 0 set, no AT). */
  def embeddedMmrStream(bitmap: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val g4 = encodeMmrG4(bitmap, w, h)
    val page = java.nio.ByteBuffer.allocate(19)
      .putInt(w).putInt(h).putInt(0).putInt(0)
      .put(0.toByte).putShort(0.toShort).array()
    val region = java.nio.ByteBuffer.allocate(18 + g4.length)
      .putInt(w).putInt(h).putInt(0).putInt(0)
      .put(0.toByte) // combination op OR
      .put(1.toByte) // generic flags: MMR
      .put(g4).array()
    segment(0, 48, Nil, page) ++ segment(1, 38, Nil, region)
  }

  /** Deterministic symbol-coded page: three glyphs laid out as two text
    * lines — the symbol-dictionary/text-region analogue of `testBitmap`. */
  private def textFixture: (Seq[Jbig2.Bitmap], Seq[(Int, Int, Int)]) = (
    Seq(
      glyph(Seq(".##.", "#..#", "####", "#..#", "#..#")),
      glyph(Seq("###.", "#..#", "###.", "#..#", "###.")),
      glyph(Seq(".####.", "#....#", "#.....", "#.....", "#....#", ".####.", "......"))),
    Seq(
      (0, 2, 3), (1, 8, 3), (0, 14, 3), (2, 20, 2),
      (1, 4, 12), (2, 12, 11), (0, 20, 13)))

  def textStream(w: Int, h: Int): Array[Byte] = {
    val (glyphs, instances) = textFixture
    embeddedTextStream(w, h, glyphs, instances)
  }

  /** The same symbol-coded page split into (/JBIG2Globals stream, page
    * stream) — the dictionary rides the globals chunk. */
  def textStreamWithGlobals(w: Int, h: Int): (Array[Byte], Array[Byte]) = {
    val (glyphs, instances) = textFixture
    embeddedTextStreamWithGlobals(w, h, glyphs, instances)
  }

  /** Minimal one-page PDF carrying one JBIG2-encoded image XObject — the
    * corpus-side fixture for the raster decode lane (the reference corpus has
    * no JBIG2 instance and no JDK codec can author one). `symbolCoded` swaps
    * the generic-region payload for the symbol-dictionary + text-region one. */
  def pdfWithJbig2(w: Int, h: Int, seed: Long, symbolCoded: Boolean = false,
      mmr: Boolean = false, globalsSplit: Boolean = false,
      huffman: Boolean = false, halftone: Boolean = false,
      refine: Boolean = false, halftoneMmr: Boolean = false,
      huffRefine: Boolean = false): Array[Byte] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val (stream, globals) =
      if (huffRefine) {
        // the huffman text page with two instances refined (6.4.11 with
        // SBHUFF=1): one grown ring, one same-size inversion — both shift
        // the pinned mean away from the unrefined huffman rows'
        val (glyphs, instances) = textFixture
        val grown = glyph(Seq("######", "#....#", "#.##.#", "#.##.#",
          "#....#", "######"))
        val flipped = glyph(Seq("...#", ".##.", ".##.", "#...", "...."))
        (embeddedHuffTextStream(w, h, glyphs, instances,
          refines = Map(1 -> grown, 4 -> flipped)), None)
      }
      else if (refine) {
        // generic region + type-42 refinement region (REPLACE, TPGRON):
        // the refined raster clears the top 4 rows to white — a black→white
        // edit only REPLACE composition can express, and one that moves the
        // gray mean so the oracle literal discriminates base vs refined —
        // plus a deterministic scatter of both-way flips
        val base = testBitmap(w, h, seed)
        val refined = base.clone()
        java.util.Arrays.fill(refined, 0, 4 * w, 0.toByte)
        var k = 0
        while (k < 12) {
          val i = 4 * w + (k * 97 + 13) % (w * (h - 4))
          refined(i) = (1 - refined(i)).toByte
          k += 1
        }
        (embeddedRefineStream(base, refined, w, h, tpgron = true), None)
      }
      else if (huffman) {
        // the same symbol-coded page, SDHUFF/SBHUFF-coded (MMR collective
        // bitmaps + custom FS/DS/DT table segments) — identical raster
        val (glyphs, instances) = textFixture
        (embeddedHuffTextStream(w, h, glyphs, instances, mmr = true), None)
      }
      else if (halftone || halftoneMmr) {
        // pattern dictionary + halftone region over a 4-level gray ramp —
        // the MMR variant codes the SAME grayscale as one continuous G4
        // stream, so its pinned mean must equal the arithmetic row's
        val pats = Seq(
          glyph(Seq("....", "....", "....", "....")),
          glyph(Seq("....", ".##.", ".##.", "....")),
          glyph(Seq(".##.", "####", "####", ".##.")),
          glyph(Seq("####", "####", "####", "####")))
        val hgw = w / 4
        val hgh = h / 4
        val gray = Array.tabulate(hgw * hgh)(i => (i * 5 + i / hgw) % 4)
        (embeddedHalftoneStream(w, h, pats, gray, hgw, hgh,
          mmrGray = halftoneMmr), None)
      }
      else if (globalsSplit) { val (g, p) = textStreamWithGlobals(w, h); (p, Some(g)) }
      else if (symbolCoded) (textStream(w, h), None)
      else if (mmr) (embeddedMmrStream(testBitmap(w, h, seed), w, h), None)
      else (embeddedStream(testBitmap(w, h, seed), w, h), None)
    val content = s"q $w 0 0 $h 100 600 cm /ImJ Do Q"
    val parms = if (globalsSplit) " /DecodeParms << /JBIG2Globals 6 0 R >>" else ""
    PdfWriter(Seq[PdfWriter.Body](
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /XObject << /ImJ 4 0 R >> >> /Contents 5 0 R >>",
      PdfWriter.stream(s"/Type /XObject /Subtype /Image /Width $w /Height $h " +
        s"/BitsPerComponent 1 /ColorSpace /DeviceGray /Filter /JBIG2Decode$parms", stream),
      PdfWriter.stream("", content.getBytes(ISO_8859_1))) ++
      globals.map(g => PdfWriter.stream("", g)))
  }

  // ── Huffman-coded fixtures (T.88 SDHUFF/SBHUFF paths, round 6) ─────────

  /** MSB-first bit writer (mirror of Jbig2Huffman.Reader). */
  final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nBits = 0
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1)
      nBits += 1
      if (nBits == 8) { buf += cur.toByte; cur = 0; nBits = 0 }
    }
    def bits(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit(((v >>> i) & 1).toInt); i -= 1 }
    }
    def align(): Unit = while (nBits != 0) bit(0)
    def bytes(a: Array[Byte]): Unit = { align(); a.foreach(buf += _) }
    def result(): Array[Byte] = { align(); buf.toArray }
  }

  /** Emit one table-coded value (or OOB for None) — uses the table's own
    * B.3-assigned codes, so the encoder and decoder cannot disagree. */
  def encodeHuffValue(w: BitWriter, t: Jbig2Huffman.Table, v: Option[Int]): Unit = {
    val lines = t.lines
    val codes = t.codes
    v match {
      case None =>
        val i = lines.indexWhere(_.oob)
        require(i >= 0, "table has no OOB line")
        w.bits(codes(i), lines(i).prefLen)
      case Some(value) =>
        var best = -1
        var i = 0
        while (i < lines.length && best < 0) {
          val l = lines(i)
          if (!l.oob && l.prefLen > 0) {
            val inRange =
              if (l.lower) value <= l.rangeLow
              else if (l.rangeLen >= 32) value >= l.rangeLow
              else value >= l.rangeLow && value < l.rangeLow + (1L << l.rangeLen)
            if (inRange) best = i
          }
          i += 1
        }
        require(best >= 0, s"value $value not representable")
        val l = lines(best)
        w.bits(codes(best), l.prefLen)
        val off = if (l.lower) l.rangeLow - value else value - l.rangeLow
        w.bits(off, l.rangeLen)
    }
  }

  /** Custom table segment payload (7.4.13) from normal lines + lower/upper/
    * OOB prefix lengths; parse it back for the Table used to encode values. */
  def encodeTableSegment(htLow: Int, htHigh: Int,
      normal: Seq[(Int, Int)], lowerPref: Int, upperPref: Int,
      oobPref: Int = 0): (Array[Byte], Jbig2Huffman.Table) = {
    val htPs = 4
    val htRs = 6
    val w = new BitWriter
    normal.foreach { case (pref, range) => w.bits(pref, htPs); w.bits(range, htRs) }
    w.bits(lowerPref, htPs)
    w.bits(upperPref, htPs)
    if (oobPref > 0) w.bits(oobPref, htPs)
    val body = w.result()
    val out = java.nio.ByteBuffer.allocate(9 + body.length)
    out.put((((if (oobPref > 0) 1 else 0)) | ((htPs - 1) << 1) | ((htRs - 1) << 4)).toByte)
    out.putInt(htLow).putInt(htHigh)
    out.put(body)
    val bytes = out.array()
    val table = Jbig2Huffman.parseTableSegment(bytes, 0, bytes.length)
      .getOrElse(sys.error("self-built table segment failed to parse"))
    (bytes, table)
  }

  /** Huffman symbol dictionary payload (SDHUFF=1, standard B.4/B.2/B.1
    * selectors): glyphs grouped into ascending height classes, widths
    * ascending within a class, one collective bitmap per class —
    * uncompressed (BMSIZE 0) or MMR-coded. Exports everything. */
  def encodeSymbolDictHuffData(glyphs: Seq[Jbig2.Bitmap], mmr: Boolean = false): Array[Byte] = {
    import Jbig2Huffman.{B1, B2, B4}
    val w = new BitWriter
    var hcHeight = 0
    glyphs.groupBy(_.h).toSeq.sortBy(_._1).foreach { case (h, gs0) =>
      val gs = gs0.sortBy(_.w)
      encodeHuffValue(w, B4, Some(h - hcHeight))
      hcHeight = h
      var symWidth = 0
      var totWidth = 0
      gs.foreach { g =>
        encodeHuffValue(w, B2, Some(g.w - symWidth))
        symWidth = g.w
        totWidth += g.w
      }
      encodeHuffValue(w, B2, None) // OOB: class complete
      // collective bitmap: symbols side by side
      val coll = new Array[Byte](totWidth * h)
      var x0 = 0
      gs.foreach { g =>
        var y = 0
        while (y < h) {
          System.arraycopy(g.bits, y * g.w, coll, y * totWidth + x0, g.w)
          y += 1
        }
        x0 += g.w
      }
      if (!mmr) {
        encodeHuffValue(w, B1, Some(0))
        w.align()
        var y = 0
        while (y < h) {
          var x = 0
          while (x < totWidth) { w.bit(coll(y * totWidth + x)); x += 1 }
          w.align()
          y += 1
        }
      } else {
        val enc = encodeMmrG4(coll, totWidth, h)
        encodeHuffValue(w, B1, Some(enc.length))
        w.bytes(enc)
      }
    }
    // export all: run 0 (not exported), run N (exported), via Table B.1
    encodeHuffValue(w, B1, Some(0))
    encodeHuffValue(w, B1, Some(glyphs.length))
    val body = w.result()
    val out = java.nio.ByteBuffer.allocate(2 + 8 + body.length)
    out.putShort(1.toShort) // SDHUFF=1, all-standard selectors, template 0
    out.putInt(glyphs.length).putInt(glyphs.length)
    out.put(body)
    out.array()
  }

  /** Huffman text region payload (SBHUFF=1, custom FS/DS/DT tables): same
    * instance model as encodeTextRegionData — (symId, x, y) with the
    * corner-invariant S axis — but table-coded, with the 35-runcode
    * symbol-ID scheme (uniform ceil(log2 n) code lengths). */
  def encodeTextRegionHuffData(rw: Int, rh: Int,
      glyphs: Seq[Jbig2.Bitmap], instances: Seq[(Int, Int, Int)],
      tFS: Jbig2Huffman.Table, tDS: Jbig2Huffman.Table, tDT: Jbig2Huffman.Table,
      refCorner: Int = 1, combOp: Int = 0,
      /** SBREFINE with SBHUFF (6.4.11): original-instance-index → refined
        * bitmap (those instances carry RI=1; rest RI=0). RDW/RDH/RDX/RDY
        * share one custom table `tRD`; BMSIZE uses the standard B.1. The
        * GR statistics persist across instances (matching the decoder);
        * each refinement is its own flushed MQ codeword segment. TL corner
        * only (the strip regrouping uses glyph heights). */
      refines: Map[Int, Jbig2.Bitmap] = Map.empty,
      tRD: Jbig2Huffman.Table = null, rTemplate: Int = 0): Array[Byte] = {
    require(glyphs.length >= 2, "huffman fixture needs >= 2 symbols")
    val refine = refines.nonEmpty
    require(!refine || (tRD != null && (refCorner & 1) == 1))
    val w = new BitWriter
    // symbol-ID codes: all symbols at length L (canonical 0..n-1)
    val symLen = Jbig2.ceilLog2(glyphs.length)
    val runLens = new Array[Int](35)
    runLens(symLen) = 1 // runcode `symLen` gets the single length-1 code "0"
    runLens.foreach(l => w.bits(l, 4))
    glyphs.indices.foreach(_ => w.bit(0)) // n × runcode symLen
    w.align()
    def tOf(inst: (Int, Int, Int)) =
      inst._3 + (if ((refCorner & 1) != 0) 0 else glyphs(inst._1).h - 1)
    val strips = instances.zipWithIndex.groupBy { case (inst, _) => tOf(inst) }
      .toSeq.sortBy(_._1)
      .map { case (t, is) => (t, is.sortBy(_._1._2)) }
    val grCx = new Array[Int](1 << 13)
    encodeHuffValue(w, tDT, Some(0)) // STRIPT init
    var stripT = 0
    var firstS = 0
    strips.foreach { case (t, is) =>
      encodeHuffValue(w, tDT, Some(t - stripT))
      stripT = t
      var curS = 0
      is.zipWithIndex.foreach { case ((inst, origIdx), k) =>
        val s = inst._2
        if (k == 0) {
          encodeHuffValue(w, tFS, Some(s - firstS))
          firstS = s
          curS = s
        } else {
          encodeHuffValue(w, tDS, Some(s - curS))
          curS = s
        }
        // SBSTRIPS == 1: no CURT bits
        w.bits(inst._1, symLen) // symbol ID at uniform length
        val sym = glyphs(inst._1)
        val drawn = if (!refine) sym else refines.get(origIdx) match {
          case None => w.bit(0); sym
          case Some(r) =>
            w.bit(1)
            val rdw = r.w - sym.w
            val rdh = r.h - sym.h
            encodeHuffValue(w, tRD, Some(rdw))
            encodeHuffValue(w, tRD, Some(rdh))
            encodeHuffValue(w, tRD, Some(-(rdw >> 1))) // net offset 0
            encodeHuffValue(w, tRD, Some(-(rdh >> 1)))
            val enc = new MqEncoder
            encodeRefinementInto(enc, grCx, r.bits, r.w, r.h, rTemplate,
              sym, 0, 0, NominalRefAt)
            val seg = enc.flush()
            encodeHuffValue(w, Jbig2Huffman.B1, Some(seg.length))
            w.align()
            seg.foreach(b => w.bits(b & 0xff, 8))
            r
        }
        curS += drawn.w - 1
      }
      encodeHuffValue(w, tDS, None) // OOB terminates the strip
    }
    val body = w.result()
    // SBHUFF=1, optional SBREFINE, LOGSBSTRIPS=0, refCorner, combOp
    val flags = 1 | (if (refine) 2 else 0) | ((refCorner & 3) << 4) |
      ((combOp & 3) << 7) | (if (refine) (rTemplate & 1) << 15 else 0)
    // FS/DS/DT custom; refining regions add custom RDW/RDH/RDX/RDY and the
    // standard-B.1 BMSIZE selector (bit 14 = 0)
    val hf = 3 | (3 << 2) | (3 << 4) |
      (if (refine) (3 << 6) | (3 << 8) | (3 << 10) | (3 << 12) else 0)
    val rAtBytes = if (refine && rTemplate == 0) 4 else 0
    val out = java.nio.ByteBuffer.allocate(17 + 2 + 2 + rAtBytes + 4 + body.length)
    out.putInt(rw).putInt(rh).putInt(0).putInt(0)
    out.put(0.toByte)
    out.putShort(flags.toShort)
    out.putShort(hf.toShort)
    if (refine && rTemplate == 0)
      NominalRefAt.foreach { case (ax, ay) => out.put(ax.toByte).put(ay.toByte) }
    out.putInt(instances.length)
    out.put(body)
    out.array()
  }

  /** Fixture custom tables: FS covers 0..15 (+lower/upper), DS covers −8..7
    * with a short OOB, DT covers 0..15 (+lower/upper). */
  def fixtureTextTables(): (Array[Byte], Jbig2Huffman.Table, Array[Byte], Jbig2Huffman.Table, Array[Byte], Jbig2Huffman.Table) = {
    val (fsB, fsT) = encodeTableSegment(0, 16, Seq((1, 4)), lowerPref = 2, upperPref = 2)
    val (dsB, dsT) = encodeTableSegment(-8, 8, Seq((2, 4)), lowerPref = 3, upperPref = 3, oobPref = 1)
    val (dtB, dtT) = encodeTableSegment(0, 16, Seq((1, 4)), lowerPref = 2, upperPref = 2)
    (fsB, fsT, dsB, dsT, dtB, dtT)
  }

  /** PDF-embedded huffman symbol-coded stream: page info + three custom
    * table segments + huffman symbol dictionary + huffman text region. */
  def embeddedHuffTextStream(w: Int, h: Int, glyphs: Seq[Jbig2.Bitmap],
      instances: Seq[(Int, Int, Int)], mmr: Boolean = false,
      refCorner: Int = 1,
      /** original-instance-index → refined bitmap: SBREFINE with SBHUFF —
        * RDW/RDH/RDX/RDY ride one custom table referred four times (the
        * 7.4.3.1.6 consumption order), BMSIZE the standard B.1. */
      refines: Map[Int, Jbig2.Bitmap] = Map.empty): Array[Byte] = {
    val page = java.nio.ByteBuffer.allocate(19)
      .putInt(w).putInt(h).putInt(0).putInt(0)
      .put(0.toByte).putShort(0.toShort).array()
    val (fsB, fsT, dsB, dsT, dtB, dtT) = fixtureTextTables()
    val dict = encodeSymbolDictHuffData(glyphs, mmr)
    // the dictionary's height-class regrouping reorders symbols: rebuild the
    // exported order (classes by ascending height, widths ascending within)
    val exported = glyphs.groupBy(_.h).toSeq.sortBy(_._1).flatMap(_._2.sortBy(_.w))
    val remap = glyphs.map(g => exported.indexWhere(e => e eq g))
    val remapped = instances.map { case (id, x, y) => (remap(id), x, y) }
    if (refines.isEmpty) {
      val text = encodeTextRegionHuffData(w, h, exported, remapped, fsT, dsT, dtT, refCorner)
      segment(0, 48, Nil, page) ++
        segment(1, 53, Nil, fsB) ++
        segment(2, 53, Nil, dsB) ++
        segment(3, 53, Nil, dtB) ++
        segment(4, 0, Nil, dict) ++
        segment(5, 6, Seq(4, 1, 2, 3), text)
    } else {
      val (rdB, rdT) = encodeTableSegment(-8, 8, Seq((2, 4)),
        lowerPref = 3, upperPref = 3)
      val text = encodeTextRegionHuffData(w, h, exported, remapped, fsT, dsT,
        dtT, refCorner, refines = refines, tRD = rdT)
      segment(0, 48, Nil, page) ++
        segment(1, 53, Nil, fsB) ++
        segment(2, 53, Nil, dsB) ++
        segment(3, 53, Nil, dtB) ++
        segment(4, 53, Nil, rdB) ++
        segment(5, 0, Nil, dict) ++
        segment(6, 6, Seq(5, 1, 2, 3, 4, 4, 4, 4), text)
    }
  }

  /** PDF-embedded stream: a generic region draws `base`, then a standalone
    * refinement region segment (type 42) refines the page under its bbox to
    * `refined` (REPLACE composition), optionally with TPGRON rows. */
  def embeddedRefineStream(base: Array[Byte], refined: Array[Byte],
      w: Int, h: Int, rTemplate: Int = 0, tpgron: Boolean = false): Array[Byte] = {
    val page = java.nio.ByteBuffer.allocate(19)
      .putInt(w).putInt(h).putInt(0).putInt(0)
      .put(0x40.toByte) // page flags: combination-operator override allowed
      .putShort(0.toShort).array()
    val gen = {
      val mq = encodeGenericRegion(base, w, h)
      val at = nominalAt(0)
      val out = java.nio.ByteBuffer.allocate(17 + 1 + 2 * at.length + mq.length)
      out.putInt(w).putInt(h).putInt(0).putInt(0)
      out.put(0.toByte) // external op OR
      out.put(0.toByte) // generic flags: arithmetic, template 0
      at.foreach { case (x, y) => out.put(x.toByte).put(y.toByte) }
      out.put(mq)
      out.array()
    }
    val refSeg = {
      val enc = new MqEncoder
      encodeRefinementInto(enc, new Array[Int](1 << 13), refined, w, h,
        rTemplate, Jbig2.Bitmap(w, h, base), 0, 0, NominalRefAt, tpgron)
      val mq = enc.flush()
      val atLen = if (rTemplate == 0) 4 else 0
      val out = java.nio.ByteBuffer.allocate(17 + 1 + atLen + mq.length)
      out.putInt(w).putInt(h).putInt(0).putInt(0)
      out.put(4.toByte) // external op REPLACE (7.4.7.2)
      out.put((rTemplate | (if (tpgron) 2 else 0)).toByte)
      if (rTemplate == 0)
        NominalRefAt.foreach { case (x, y) => out.put(x.toByte).put(y.toByte) }
      out.put(mq)
      out.array()
    }
    segment(0, 48, Nil, page) ++
      segment(1, 38, Nil, gen) ++
      segment(2, 42, Nil, refSeg)
  }

  // ── pattern dictionary + halftone region fixtures (T.88 6.6/6.7) ───────

  /** Pattern dictionary payload (7.4.4): the patterns laid side by side as
    * one collective generic region with AT1 = (−HDPW, 0). */
  def encodePatternDictData(pats: Seq[Jbig2.Bitmap], template: Int = 0,
      mmr: Boolean = false): Array[Byte] = {
    require(pats.nonEmpty && pats.forall(p => p.w == pats.head.w && p.h == pats.head.h))
    val hdpw = pats.head.w
    val hdph = pats.head.h
    val tw = pats.length * hdpw
    val coll = new Array[Byte](tw * hdph)
    pats.zipWithIndex.foreach { case (pat, k) =>
      var y = 0
      while (y < hdph) {
        System.arraycopy(pat.bits, y * hdpw, coll, y * tw + k * hdpw, hdpw)
        y += 1
      }
    }
    val body: Array[Byte] =
      if (mmr) encodeMmrG4(coll, tw, hdph)
      else {
        val enc = new MqEncoder
        val at = Array((-hdpw, 0), (-3, -1), (2, -2), (-2, -2))
        encodeGenericInto(enc, new Array[Int](1 << 16), coll, tw, hdph,
          template, tpgdon = false, at.take(Jbig2.atCount(template)))
        enc.flush()
      }
    val out = java.nio.ByteBuffer.allocate(7 + body.length)
    out.put(((if (mmr) 1 else 0) | (template << 1)).toByte)
    out.put(hdpw.toByte).put(hdph.toByte)
    out.putInt(pats.length - 1) // GRAYMAX
    out.put(body)
    out.array()
  }

  /** Halftone region payload (7.4.5, arithmetic): Gray-coded grid-value
    * bitplanes (MSB first, shared context) + the rotated-grid parameters.
    * `gray` is row-major hgw×hgh pattern indices. */
  def encodeHalftoneRegionData(rw: Int, rh: Int, gray: Array[Int],
      hgw: Int, hgh: Int, hgx: Int, hgy: Int, hrx: Int, hry: Int,
      nPatterns: Int, template: Int = 0, combOp: Int = 0,
      /** HMMR: gray bitplanes as ONE continuous G4 stream (C.5). */
      mmrGray: Boolean = false,
      /** HENABLESKIP: requires the pattern dims to rebuild the 6.6.5.1
        * skip bitmap; gray values at skipped cells must be 0. */
      enableSkip: Boolean = false, patW: Int = 0, patH: Int = 0): Array[Byte] = {
    require(gray.length == hgw * hgh && gray.forall(g => g >= 0 && g < nPatterns))
    require(!(mmrGray && enableSkip), "skip is an arithmetic-lane feature")
    val bits = Jbig2.ceilLog2(nPatterns)
    val skip: Array[Byte] =
      if (!enableSkip) null
      else {
        require(patW > 0 && patH > 0)
        val s = new Array[Byte](hgw * hgh)
        var mg = 0
        while (mg < hgh) {
          var ng = 0
          while (ng < hgw) {
            val x = (hgx + mg * hry + ng * hrx) >> 8
            val y = (hgy + mg * hrx - ng * hry) >> 8
            if (x + patW <= 0 || x >= rw || y + patH <= 0 || y >= rh) {
              s(mg * hgw + ng) = 1
              require(gray(mg * hgw + ng) == 0, "skipped cells carry gray 0")
            }
            ng += 1
          }
          mg += 1
        }
        s
      }
    def grayPlane(j: Int): Array[Byte] = {
      val plane = new Array[Byte](hgw * hgh)
      var i = 0
      while (i < plane.length) {
        val bj = (gray(i) >> j) & 1
        val bj1 = if (j + 1 >= bits) 0 else (gray(i) >> (j + 1)) & 1
        plane(i) = (bj ^ bj1).toByte // Gray code (C.5)
        i += 1
      }
      plane
    }
    val body: Array[Byte] =
      if (bits == 0) Array.emptyByteArray // single pattern: no bitplanes
      else if (mmrGray) {
        // all planes MSB-first as one tall G4 bitmap → one continuous stream
        val tall = new Array[Byte](hgw * hgh * bits)
        var j = bits - 1
        while (j >= 0) {
          System.arraycopy(grayPlane(j), 0, tall, (bits - 1 - j) * hgw * hgh,
            hgw * hgh)
          j -= 1
        }
        encodeMmrG4(tall, hgw, hgh * bits)
      } else {
        val enc = new MqEncoder
        val cx = new Array[Int](1 << 16)
        var j = bits - 1
        while (j >= 0) {
          encodeGenericInto(enc, cx, grayPlane(j), hgw, hgh, template,
            tpgdon = false, skip = skip)
          j -= 1
        }
        enc.flush()
      }
    val out = java.nio.ByteBuffer.allocate(17 + 1 + 20 + body.length)
    out.putInt(rw).putInt(rh).putInt(0).putInt(0)
    out.put(0.toByte) // region combination operator: OR
    out.put(((if (mmrGray) 1 else 0) | (template << 1) |
      (if (enableSkip) 8 else 0) | (combOp << 4)).toByte)
    out.putInt(hgw).putInt(hgh).putInt(hgx).putInt(hgy)
    out.putShort(hrx.toShort).putShort(hry.toShort)
    out.put(body)
    out.array()
  }

  /** PDF-embedded halftone stream: page info + pattern dictionary +
    * immediate halftone region. */
  def embeddedHalftoneStream(w: Int, h: Int, pats: Seq[Jbig2.Bitmap],
      gray: Array[Int], hgw: Int, hgh: Int, hgx: Int = 0, hgy: Int = 0,
      hrx: Int = 0, hry: Int = 0, template: Int = 0,
      mmrPatterns: Boolean = false, mmrGray: Boolean = false,
      enableSkip: Boolean = false): Array[Byte] = {
    val page = java.nio.ByteBuffer.allocate(19)
      .putInt(w).putInt(h).putInt(0).putInt(0)
      .put(0.toByte).putShort(0.toShort).array()
    val rx = if (hrx != 0) hrx else pats.head.w << 8
    val dict = encodePatternDictData(pats, template, mmrPatterns)
    val ht = encodeHalftoneRegionData(w, h, gray, hgw, hgh, hgx, hgy, rx, hry,
      pats.length, template, mmrGray = mmrGray, enableSkip = enableSkip,
      patW = pats.head.w, patH = pats.head.h)
    segment(0, 48, Nil, page) ++
      segment(1, 16, Nil, dict) ++
      segment(2, 22, Seq(1), ht)
  }

  /** Deterministic test bitmap: diagonal bands + a filled box, seeded. */
  def testBitmap(w: Int, h: Int, seed: Long): Array[Byte] = {
    val b = new Array[Byte](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val band = ((x + 2 * y + seed) % 11) < 4
        val box = x >= w / 4 && x < w / 2 && y >= h / 4 && y < h / 2
        b(y * w + x) = if (band ^ box) 1 else 0
        x += 1
      }
      y += 1
    }
    b
  }
}
