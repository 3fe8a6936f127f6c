package graft.testgen

import graft.pdf.{Jbig2, Jpx}

/** Deterministic JPEG 2000 (ITU-T T.800) ENCODER for fixtures: the JPX
  * decoding lane needs real codestreams to decode and no JDK codec can
  * author one. Encodes single-layer LRCP codestreams — forward 5/3
  * (reversible) or 9/7 (irreversible) wavelets, Tier-1 EBCOT coding-pass
  * encoding over the MQ coder, tag-tree coded packet headers — in the exact
  * subset `Jpx.decode` reads back. Test/synthesis support, not a product
  * surface. The MQ encoder is the JBIG2 fixture one (T.88 Annex E == T.800
  * Annex C).
  */
object JpxSynth {

  /** Per-tile coding override (A.4.2, `encode`'s tileCoding): None = inherit
    * the image-wide value. Any set SGcod/SPcod field emits a first-tile-part
    * COD; `cocStyles` emits tile COCs; `ownQcd` emits a tile QCD whose
    * exponents derive from the tile's own magnitudes (required when levels
    * or the wavelet differ from the main header). */
  final case class TileCoding(prog: Option[Int] = None,
      layers: Option[Int] = None, levels: Option[Int] = None,
      cbExp: Option[Int] = None, cbStyle: Option[Int] = None,
      reversible: Option[Boolean] = None, sop: Option[Boolean] = None,
      eph: Option[Boolean] = None, cocStyles: Option[Map[Int, Int]] = None,
      ownQcd: Boolean = false,
      /** Tile-local maxshift ROI: per-component image-grid rects encoded as
        * first-tile-part RGN markers (reversible tiles only). */
      roi: Map[Int, (Int, Int, Int, Int)] = Map.empty,
      /** Tile-local POC volumes (override the progression for THIS tile);
        * emitted as a first-tile-part POC marker. */
      poc: Seq[(Int, Int, Int, Int, Int, Int)] = Nil,
      /** Tile-local custom precinct sizes (one byte per resolution 0..tile
        * levels, PPx low nibble / PPy high) — Scod bit 0 of the tile COD. */
      precSizes: Seq[Int] = Nil)

  // ── forward wavelets (the exact inverses of Jpx's synthesis lifting) ─────

  /** Forward 5/3 lifting (F.4.8.2.1) over a line whose ABSOLUTE origin has
    * parity `p` — the mirror of Jpx.inv53Line; a single sample at an odd
    * index doubles (so the decoder's halving rule round-trips exactly). */
  private def fwd53Line(x: Array[Double], n: Int, p: Int = 0): Unit = {
    if (n == 1) {
      if (p == 1) x(0) = x(0) * 2
      return
    }
    def at(i: Int): Double = {
      val j = if (i < 0) -i else if (i >= n) 2 * n - 2 - i else i
      x(j)
    }
    var i = 1 - p
    while (i < n) { x(i) = x(i) - math.floor((at(i - 1) + at(i + 1)) / 2); i += 2 }
    i = p
    while (i < n) { x(i) = x(i) + math.floor((at(i - 1) + at(i + 1) + 2) / 4); i += 2 }
  }

  import Jpx.{A97, B97, G97, D97, K97}

  private def fwd97Line(x: Array[Double], n: Int, p: Int = 0): Unit = {
    if (n == 1) {
      if (p == 1) x(0) = x(0) * 2
      return
    }
    def at(i: Int): Double = {
      val j = if (i < 0) -i else if (i >= n) 2 * n - 2 - i else i
      x(j)
    }
    var i = 1 - p
    while (i < n) { x(i) += A97 * (at(i - 1) + at(i + 1)); i += 2 }
    i = p
    while (i < n) { x(i) += B97 * (at(i - 1) + at(i + 1)); i += 2 }
    i = 1 - p
    while (i < n) { x(i) += G97 * (at(i - 1) + at(i + 1)); i += 2 }
    i = p
    while (i < n) { x(i) += D97 * (at(i - 1) + at(i + 1)); i += 2 }
    i = p
    while (i < n) { x(i) /= K97; i += 2 }
    i = 1 - p
    while (i < n) { x(i) *= K97; i += 2 }
  }

  /** One forward 2D decomposition of a w×h grid whose ABSOLUTE origin is
    * (u0, v0) — any parity since round 6: returns (ll, hl, lh, hh) with the
    * B.5 subband dimensions (low-pass samples sit at absolute even
    * indices). Columns are analyzed first, then rows — the mirror of
    * Jpx.inverse2D's row-then-column synthesis. */
  private[graft] def forward2D(reversible: Boolean, a: Array[Double],
      w: Int, h: Int, u0: Int = 0, v0: Int = 0):
      (Array[Double], Array[Double], Array[Double], Array[Double]) = {
    val px = u0 & 1
    val py = v0 & 1
    val line = new Array[Double](math.max(w, h))
    var x = 0
    while (x < w) {
      var y = 0
      while (y < h) { line(y) = a(y * w + x); y += 1 }
      if (reversible) fwd53Line(line, h, py) else fwd97Line(line, h, py)
      y = 0
      while (y < h) { a(y * w + x) = line(y); y += 1 }
      x += 1
    }
    var y = 0
    while (y < h) {
      System.arraycopy(a, y * w, line, 0, w)
      if (reversible) fwd53Line(line, w, px) else fwd97Line(line, w, px)
      System.arraycopy(line, 0, a, y * w, w)
      y += 1
    }
    val w0 = (w + 1 - px) / 2 // low-pass columns: absolute-even positions
    val h0 = (h + 1 - py) / 2
    val wH = w - w0
    val hH = h - h0
    val ll = new Array[Double](w0 * h0)
    val hl = new Array[Double](wH * h0)
    val lh = new Array[Double](w0 * hH)
    val hh = new Array[Double](wH * hH)
    y = 0
    while (y < h) {
      val av = v0 + y
      val rL = (av >> 1) - ((v0 + 1) >> 1)
      val rH = ((av - 1) >> 1) - (v0 >> 1)
      var xx = 0
      while (xx < w) {
        val au = u0 + xx
        val cL = (au >> 1) - ((u0 + 1) >> 1)
        val cH = ((au - 1) >> 1) - (u0 >> 1)
        val v = a(y * w + xx)
        if ((av & 1) == 0 && (au & 1) == 0) ll(rL * w0 + cL) = v
        else if ((av & 1) == 0) hl(rL * wH + cH) = v
        else if ((au & 1) == 0) lh(rH * w0 + cL) = v
        else hh(rH * wH + cH) = v
        xx += 1
      }
      y += 1
    }
    (ll, hl, lh, hh)
  }

  // ── Tier-1 EBCOT encoder: the decision-for-decision mirror of
  // Jpx.decodeBlock (Annex D scan order, ZC/SC/MR/RL/UNIFORM contexts) ─────
  /** Encode sign-magnitude coefficients of one code-block. Returns the MQ
    * codeword segment and the number of coding passes. */
  /** Raw-segment bit writer (T.800 D.7 — mirror of Jpx.RawBitReader): MSB
    * first; a byte following 0xFF carries only 7 bits (its MSB stays 0). */
  private[graft] final class RawBitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var buf = 0
    private var cnt = 0
    private var prevFF = false
    def bit(b: Int): Unit = {
      buf = (buf << 1) | (b & 1)
      cnt += 1
      if (cnt == (if (prevFF) 7 else 8)) {
        out.write(buf)
        prevFF = buf == 0xff
        buf = 0
        cnt = 0
      }
    }
    /** Pad to a byte boundary with 0s; a raw segment shall not end 0xFF. */
    def terminate(): Array[Byte] = {
      while (cnt != 0) bit(0)
      val a = out.toByteArray
      if (a.nonEmpty && (a(a.length - 1) & 0xff) == 0xff) a :+ 0x00.toByte else a
    }
  }

  /** Tier-1 encode of one code-block. Returns the codeword segments (one
    * unless the style sets bypass/terminate-all — D.4.2 boundaries shared
    * with the decoder via Jpx.segmentOf) and the total pass count. */
  private[graft] def encodeBlock(vals: Array[Int], w: Int, h: Int, band: Int,
      mb: Int, zeroBitPlanes: Int, cbStyle: Int = 0): (Array[Array[Byte]], Int) = {
    val n = w * h
    val segSymbols = (cbStyle & 0x20) != 0
    val bypass = (cbStyle & 0x01) != 0
    val resetCtx = (cbStyle & 0x02) != 0
    val termAll = (cbStyle & 0x04) != 0
    val vcausal = (cbStyle & 0x08) != 0
    val mag = new Array[Int](n)
    val neg = new Array[Byte](n)
    var i = 0
    while (i < n) {
      mag(i) = vals(i) & Int.MaxValue
      neg(i) = if (vals(i) < 0) 1 else 0
      i += 1
    }
    val planes = mb - zeroBitPlanes
    if (planes <= 0) return (Array.empty, 0)
    val passes = 3 * planes - 2
    val sig = new Array[Byte](n)
    val vis = new Array[Byte](n)
    val ref = new Array[Byte](n)
    var enc = new Jbig2Synth.MqEncoder
    var rawW: RawBitWriter = null
    var cx = Jpx.freshContexts()
    val segsOut = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var curSeg = 0
    def closeWriter(): Unit =
      if (rawW != null) { segsOut += rawW.terminate(); rawW = null }
      else { segsOut += enc.flush(); enc = null }
    var stripeEnd = Int.MaxValue

    def sigAt(x: Int, y: Int): Int =
      if (x < 0 || x >= w || y < 0 || y >= h || y >= stripeEnd) 0
      else sig(y * w + x)
    def signContrib(x: Int, y: Int): Int =
      if (x < 0 || x >= w || y < 0 || y >= h || y >= stripeEnd ||
        sig(y * w + x) == 0) 0
      else if (neg(y * w + x) != 0) -1 else 1
    def neighborCounts(x: Int, y: Int): (Int, Int, Int) = {
      val hN = sigAt(x - 1, y) + sigAt(x + 1, y)
      val vN = sigAt(x, y - 1) + sigAt(x, y + 1)
      val dN = sigAt(x - 1, y - 1) + sigAt(x + 1, y - 1) +
        sigAt(x - 1, y + 1) + sigAt(x + 1, y + 1)
      (hN, vN, dN)
    }
    def encodeSign(x: Int, y: Int): Unit = {
      val hc = math.max(-1, math.min(1, signContrib(x - 1, y) + signContrib(x + 1, y)))
      val vc = math.max(-1, math.min(1, signContrib(x, y - 1) + signContrib(x, y + 1)))
      val (c, xor) = Jpx.scContext(hc, vc)
      enc.encode(cx, c, neg(y * w + x) ^ xor)
    }

    var plane = mb - 1 - zeroBitPlanes
    var pass = 0
    var passKind = 2
    while (pass < passes && plane >= 0) {
      val bitVal = 1 << plane
      val seg = Jpx.segmentOf(pass, bypass, termAll)
      if (seg != curSeg) {
        closeWriter()
        curSeg = seg
        if (Jpx.isRawPass(pass, bypass)) rawW = new RawBitWriter
        else enc = new Jbig2Synth.MqEncoder
      }
      if (resetCtx && pass > 0) cx = Jpx.freshContexts()
      val rawMode = rawW != null
      passKind match {
        case 0 => // significance propagation
          var y0s = 0
          while (y0s < h) {
            stripeEnd = if (vcausal) y0s + 4 else Int.MaxValue
            var x = 0
            while (x < w) {
              var dy = 0
              while (dy < 4 && y0s + dy < h) {
                val y = y0s + dy
                val i2 = y * w + x
                if (sig(i2) == 0) {
                  val (hN, vN, dN) = neighborCounts(x, y)
                  if (hN + vN + dN > 0) {
                    val bit = (mag(i2) & bitVal) >>> plane
                    if (rawMode) {
                      rawW.bit(bit)
                      if (bit == 1) { sig(i2) = 1; rawW.bit(neg(i2)) }
                    } else {
                      val c = Jpx.zcContext(band, hN, vN, dN)
                      enc.encode(cx, c, bit)
                      if (bit == 1) { sig(i2) = 1; encodeSign(x, y) }
                    }
                    vis(i2) = 1
                  }
                }
                dy += 1
              }
              x += 1
            }
            y0s += 4
          }
        case 1 => // magnitude refinement
          var y0s = 0
          while (y0s < h) {
            stripeEnd = if (vcausal) y0s + 4 else Int.MaxValue
            var x = 0
            while (x < w) {
              var dy = 0
              while (dy < 4 && y0s + dy < h) {
                val y = y0s + dy
                val i2 = y * w + x
                if (sig(i2) == 1 && vis(i2) == 0) {
                  if (rawMode) rawW.bit((mag(i2) & bitVal) >>> plane)
                  else {
                    val c =
                      if (ref(i2) != 0) 16
                      else {
                        val (hN, vN, dN) = neighborCounts(x, y)
                        if (hN + vN + dN > 0) 15 else 14
                      }
                    enc.encode(cx, c, (mag(i2) & bitVal) >>> plane)
                  }
                  ref(i2) = 1
                }
                dy += 1
              }
              x += 1
            }
            y0s += 4
          }
        case _ => // cleanup
          var y0s = 0
          while (y0s < h) {
            stripeEnd = if (vcausal) y0s + 4 else Int.MaxValue
            var x = 0
            while (x < w) {
              var rlEligible = y0s + 3 < h
              var dy = 0
              while (rlEligible && dy < 4) {
                val y = y0s + dy
                val i2 = y * w + x
                if (sig(i2) != 0 || vis(i2) != 0) rlEligible = false
                else {
                  val (hN, vN, dN) = neighborCounts(x, y)
                  if (hN + vN + dN > 0) rlEligible = false
                }
                dy += 1
              }
              var start = 0
              var skipColumn = false
              if (rlEligible) {
                // first row in the column that turns significant this plane
                var firstSig = -1
                var k = 0
                while (firstSig < 0 && k < 4) {
                  if ((mag((y0s + k) * w + x) & bitVal) != 0) firstSig = k
                  k += 1
                }
                if (firstSig < 0) { enc.encode(cx, Jpx.CxRL, 0); skipColumn = true }
                else {
                  enc.encode(cx, Jpx.CxRL, 1)
                  enc.encode(cx, Jpx.CxUNI, (firstSig >> 1) & 1)
                  enc.encode(cx, Jpx.CxUNI, firstSig & 1)
                  val y = y0s + firstSig
                  sig(y * w + x) = 1
                  encodeSign(x, y)
                  start = firstSig + 1
                }
              }
              if (!skipColumn) {
                var dy2 = start
                while (dy2 < 4 && y0s + dy2 < h) {
                  val y = y0s + dy2
                  val i2 = y * w + x
                  if (sig(i2) == 0 && vis(i2) == 0) {
                    val (hN, vN, dN) = neighborCounts(x, y)
                    val c = Jpx.zcContext(band, hN, vN, dN)
                    val bit = (mag(i2) & bitVal) >>> plane
                    enc.encode(cx, c, bit)
                    if (bit == 1) { sig(i2) = 1; encodeSign(x, y) }
                  }
                  dy2 += 1
                }
              }
              x += 1
            }
            y0s += 4
          }
          // segmentation symbol 0xA after every cleanup pass (D.6)
          if (segSymbols) {
            enc.encode(cx, Jpx.CxUNI, 1); enc.encode(cx, Jpx.CxUNI, 0)
            enc.encode(cx, Jpx.CxUNI, 1); enc.encode(cx, Jpx.CxUNI, 0)
          }
          java.util.Arrays.fill(vis, 0.toByte)
      }
      if (passKind == 2) { plane -= 1; passKind = 0 } else passKind += 1
      pass += 1
    }
    closeWriter()
    (segsOut.toArray, passes)
  }

  // ── tag tree encoder (B.10.2, mirror of Jpx.TagTree.decode) ──────────────
  private[graft] final class TagTreeEnc(w: Int, h: Int, leafValues: Array[Int]) {
    // node value = min of children; levels leaf(0)..root
    val levels: Array[Array[Int]] = {
      val out = scala.collection.mutable.ArrayBuffer[Array[Int]](leafValues.clone())
      var lw = w
      var lh = h
      while (lw > 1 || lh > 1) {
        val nw = (lw + 1) / 2
        val nh = (lh + 1) / 2
        val cur = out.last
        val up = Array.fill(nw * nh)(Int.MaxValue)
        var j = 0
        while (j < lh) {
          var i = 0
          while (i < lw) {
            val v = cur(j * lw + i)
            val idx = (j >> 1) * nw + (i >> 1)
            if (v < up(idx)) up(idx) = v
            i += 1
          }
          j += 1
        }
        out += up
        lw = nw
        lh = nh
      }
      out.toArray
    }
    val widths: Array[Int] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Int]
      var lw = w
      var lh = h
      out += lw
      while (lw > 1 || lh > 1) { lw = (lw + 1) / 2; lh = (lh + 1) / 2; out += lw }
      out.toArray
    }
    // per-node coded-so-far state + pin flag
    val state: Array[Array[Int]] = levels.map(l => new Array[Int](l.length))
    val pinned: Array[Array[Boolean]] = levels.map(l => new Array[Boolean](l.length))

    /** Emit the bits a conformant decoder consumes for decode(i, j, t). */
    def encode(bw: BitWriter, i: Int, j: Int, threshold: Int): Unit = {
      var lower = 0
      var level = levels.length - 1
      var blocked = false
      while (!blocked && level >= 0) {
        val li = i >> level
        val lj = j >> level
        val idx = lj * widths(level) + li
        val value = levels(level)(idx)
        if (state(level)(idx) < lower) state(level)(idx) = lower
        var done = pinned(level)(idx)
        while (!done && state(level)(idx) < threshold) {
          if (state(level)(idx) < value) { bw.bit(0); state(level)(idx) += 1 }
          else { bw.bit(1); pinned(level)(idx) = true; done = true }
        }
        if (!pinned(level)(idx)) blocked = true // conveyed "≥ threshold"
        else { lower = value; level -= 1 }
      }
    }
  }

  /** Bit writer with B.10.1 stuffing: after an emitted 0xFF byte the next
    * byte carries 7 bits. `align` pads with 0 bits; when the final byte is
    * 0xFF it appends the stuffing byte the reader skips. */
  private[graft] final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var buf = 0
    private var cnt = 0
    private var cap = 8

    def bit(b: Int): Unit = {
      buf = (buf << 1) | (b & 1)
      cnt += 1
      if (cnt == cap) flushByte()
    }

    private def flushByte(): Unit = {
      out.write(buf)
      cap = if (buf == 0xff) 7 else 8
      buf = 0
      cnt = 0
    }

    def bits(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bit((v >>> i) & 1); i -= 1 }
    }

    def align(): Unit = {
      while (cnt != 0) bit(0)
      if (cap == 7) { out.write(0); cap = 8 } // stuffing byte after a 0xFF tail
    }

    def toArray: Array[Byte] = out.toByteArray
  }

  // ── codestream assembly ──────────────────────────────────────────────────

  private final class SubbandPlan(val kind: Int, val gain: Int,
      val x0: Int, val y0: Int, val x1: Int, val y1: Int,
      val coeffs: Array[Int]) {
    var exponent: Int = 0
  }

  private def bits(v: Int): Int = {
    var x = v
    var n = 0
    while (x > 0) { x >>= 1; n += 1 }
    n
  }

  private final val Guard = 2

  /** Encode one component's tile to per-resolution subband plans. `plane` is
    * the DC-shifted (signed) sample grid. */
  /** Decompose one tile-component. `ax0`/`ay0` anchor the plane on the
    * component grid ABSOLUTELY (B.5 band coordinates flow into every
    * SubbandPlan), so code-block/precinct partitions downstream anchor at
    * the true multiples the decoder uses; origins of any parity since the
    * wavelet carries the F.3.3 interleave phase. */
  private def decompose(plane: Array[Int], w: Int, h: Int, levels: Int,
      reversible: Boolean, ax0: Int = 0, ay0: Int = 0): Array[Array[SubbandPlan]] = {
    var cur = plane.map(_.toDouble)
    var cx0 = ax0; var cy0 = ay0
    var cx1 = ax0 + w; var cy1 = ay0 + h
    // resolutions(r) for r=levels..1 hold HL/LH/HH of that composition step;
    // resolutions(0) the final LL
    val out = new Array[Array[SubbandPlan]](levels + 1)
    def q(a: Array[Double]): Array[Int] = a.map { v =>
      // reversible: integral already; irreversible: delta = 1 (εb = Rb)
      if (reversible) math.rint(v).toInt else v.toInt // toward zero
    }
    var lev = levels
    while (lev >= 1) {
      val (ll, hl, lh, hh) = forward2D(reversible, cur, cx1 - cx0, cy1 - cy0, cx0, cy0)
      // low half covers [ceil(x0/2), ceil(x1/2)); high [floor(x0/2), floor(x1/2))
      val lx0 = (cx0 + 1) >> 1; val lx1 = (cx1 + 1) >> 1
      val ly0 = (cy0 + 1) >> 1; val ly1 = (cy1 + 1) >> 1
      val hx0 = cx0 >> 1; val hx1 = cx1 >> 1
      val hy0 = cy0 >> 1; val hy1 = cy1 >> 1
      val r = lev // resolution index of these detail bands
      out(r) = Array(
        new SubbandPlan(1, 1, hx0, ly0, hx1, ly1, q(hl)),
        new SubbandPlan(2, 1, lx0, hy0, lx1, hy1, q(lh)),
        new SubbandPlan(3, 2, hx0, hy0, hx1, hy1, q(hh)))
      cur = ll
      cx0 = lx0; cy0 = ly0; cx1 = lx1; cy1 = ly1
      lev -= 1
    }
    out(0) = Array(new SubbandPlan(0, 0, cx0, cy0, cx1, cy1, q(cur)))
    out
  }

  /** Full codestream for 1..4 components of equal depth.
    * `mct`: 0 none, 1 = component transform (RCT when reversible, ICT
    * otherwise; requires ≥3 components with identical sampling).
    * `xrs`/`yrs`: per-component subsampling factors (empty = all 1); plane c
    * of `planesIn` must then be `ceil(w/xrs(c)) × ceil(h/yrs(c))` — the
    * component's own sample grid, exactly what the decoder reconstructs.
    * `prog`: progression order 0..4 (LRCP/RLCP/RPCL/PCRL/CPRL); under the
    * default single whole-subband precinct these are the B.12 loop nestings
    * l(r(c)), r(l(c)), r(c(l)), c(r(l)), c(r(l)). */
  def encode(planesIn: Array[Array[Int]], w: Int, h: Int, depth: Int,
      levels: Int, reversible: Boolean = true, mct: Int = 0,
      cbExp: Int = 6, tileW: Int = 0, tileH: Int = 0,
      layers: Int = 1, cbStyle: Int = 0,
      sop: Boolean = false, eph: Boolean = false,
      cocStyles: Map[Int, Int] = Map.empty,
      xrs: Seq[Int] = Nil, yrs: Seq[Int] = Nil,
      prog: Int = 0,
      /** Custom precinct size bytes (PPx | PPy<<4), one per resolution
        * 0..levels — Scod bit 0. Single-tile only (the encoder's band
        * coordinates are tile-relative; a non-origin tile would need
        * precinct-aligned tile sizes to stay absolute-anchored). */
      precSizes: Seq[Int] = Nil,
      /** Image-grid ROI rectangle (x0, y0, x1, y1) per component, encoded
        * with the maxshift method (T.800 Annex H): the rectangle is
        * back-projected into every subband with a conservative
        * filter-support dilation, SPrgn is chosen so 2^SPrgn clears every
        * background magnitude, the masked coefficients are scaled up by
        * 2^SPrgn, and an RGN marker (A.6.3) signals the shift. Reversible
        * streams only: the no-quantization exponents are computed from the
        * (already shifted) magnitudes so Mb covers the scaled range for
        * free, whereas this encoder's delta=1 irreversible scheme pins
        * εb = Rb + gain and cannot absorb the shift without per-component
        * QCC machinery. The decoder is agnostic — its threshold downshift
        * happens on the integer magnitude lane both wavelets share. */
      roi: Map[Int, (Int, Int, Int, Int)] = Map.empty,
      /** Reference-grid offsets (round 6): XOsiz/YOsiz image origin and
        * XTOsiz/YTOsiz tile-partition origin — ANY value meeting A.5.1's
        * ordering (the wavelet carries each line's absolute origin parity).
        * `w`/`h` stay the ABSOLUTE right/bottom extents (Xsiz/Ysiz); the
        * image covers [xOff, w) × [yOff, h) and plane c spans the offset
        * component grid [ceil(xOff/XRsiz), ceil(w/XRsiz)). */
      xOff: Int = 0, yOff: Int = 0, xtOff: Int = 0, ytOff: Int = 0,
      /** POC progression volumes (A.6.6): (RSpoc, CSpoc, LYEpoc, REpoc,
        * CEpoc, Ppoc) — when non-empty, a main-header POC marker overrides
        * `prog` and packets are sequenced volume by volume (each volume's
        * not-yet-emitted packets in its own order). The volumes must cover
        * every packet. */
      poc: Seq[(Int, Int, Int, Int, Int, Int)] = Nil,
      /** PPM (A.7.4): packet headers packed into main-header PPM segments
        * (one Nppm group per tile), tile bodies carrying only the codeword
        * segments (plus SOP markers when signalled). */
      ppm: Boolean = false,
      /** PPT (A.7.5): packet headers packed into tile-part-header PPT
        * segments instead — mutually exclusive with `ppm`. */
      ppt: Boolean = false,
      /** Per-tile coding overrides (A.4.2): a first-tile-part COD (when any
        * SGcod/SPcod field is set), COCs (cocStyles), and an own QCD whose
        * exponents derive from that tile's own magnitudes. Tiles overriding
        * `levels` or `reversible` must set ownQcd (the main QCD's subband
        * list would not fit). Kept orthogonal to roi/poc/ppm/ppt/precSizes. */
      tileCoding: Map[Int, TileCoding] = Map.empty): Array[Byte] = {
    require(!(ppm && ppt), "PPM and PPT are mutually exclusive (A.7.4)")
    if (tileCoding.nonEmpty) {
      require(roi.isEmpty && poc.isEmpty && !ppm && !ppt && precSizes.isEmpty,
        "tile coding overrides: plain packet/quant lanes only")
      tileCoding.values.foreach { t =>
        if (t.levels.exists(_ != levels) || t.reversible.exists(_ != reversible))
          require(t.ownQcd, "levels/wavelet overrides need an own tile QCD")
      }
    }
    def tcOf(ti: Int): Option[TileCoding] = tileCoding.get(ti)
    def lvOf(ti: Int): Int = tcOf(ti).flatMap(_.levels).getOrElse(levels)
    def revOf(ti: Int): Boolean = tcOf(ti).flatMap(_.reversible).getOrElse(reversible)
    def cbExpOf(ti: Int): Int = tcOf(ti).flatMap(_.cbExp).getOrElse(cbExp)
    def progOf(ti: Int): Int = tcOf(ti).flatMap(_.prog).getOrElse(prog)
    def layersOf(ti: Int): Int = tcOf(ti).flatMap(_.layers).getOrElse(layers)
    def sopOf(ti: Int): Boolean = tcOf(ti).flatMap(_.sop).getOrElse(sop)
    def ephOf(ti: Int): Boolean = tcOf(ti).flatMap(_.eph).getOrElse(eph)
    /** Does tile ti get its own COD marker? (any SGcod/SPcod field set) */
    def hasTileCod(ti: Int): Boolean = tcOf(ti).exists(t =>
      t.prog.nonEmpty || t.layers.nonEmpty || t.levels.nonEmpty ||
        t.cbExp.nonEmpty || t.cbStyle.nonEmpty || t.reversible.nonEmpty ||
        t.sop.nonEmpty || t.eph.nonEmpty || t.precSizes.nonEmpty)
    tileCoding.foreach { case (ti, t) =>
      if (t.precSizes.nonEmpty) {
        require(t.precSizes.length == lvOf(ti) + 1,
          "one tile precinct byte per resolution")
        t.precSizes.zipWithIndex.foreach { case (ps, r) =>
          require(r == 0 || ((ps & 0xf) >= 1 && ((ps >> 4) & 0xf) >= 1),
            "tile PPx/PPy must be >= 1 above resolution 0")
        }
      }
    }
    /** Per-tile precinct exponents (tile COD precincts > main precincts). */
    def ppxOfT(ti: Int, r: Int): Int = tcOf(ti).filter(_.precSizes.nonEmpty)
      .map(t => t.precSizes(r) & 0xf).getOrElse(ppxOf(r))
    def ppyOfT(ti: Int, r: Int): Int = tcOf(ti).filter(_.precSizes.nonEmpty)
      .map(t => (t.precSizes(r) >> 4) & 0xf).getOrElse(ppyOf(r))
    /** Effective Tier-1 style for (tile, comp): a tile COD drops the main
      * COCs for that tile (T.800 precedence); tile COCs override either way. */
    def styleOf(ti: Int, c: Int): Int = tcOf(ti) match {
      case Some(t) =>
        val tileWide =
          if (hasTileCod(ti)) t.cbStyle.getOrElse(cbStyle)
          else cocStyles.getOrElse(c, t.cbStyle.getOrElse(cbStyle))
        t.cocStyles.flatMap(_.get(c)).getOrElse(tileWide)
      case None => cocStyles.getOrElse(c, cbStyle)
    }
    require(roi.isEmpty || reversible, "maxshift ROI: reversible streams only")
    require(prog >= 0 && prog <= 4)
    require(xOff >= 0 && yOff >= 0 && xtOff >= 0 && ytOff >= 0 &&
      xtOff <= xOff && ytOff <= yOff && xOff < w && yOff < h, "A.5.1 offsets")
    if (precSizes.nonEmpty) {
      require(precSizes.length == levels + 1, "one precinct byte per resolution")
      require((tileW == 0 || tileW >= w) && (tileH == 0 || tileH >= h),
        "custom precincts: single tile only")
      precSizes.zipWithIndex.foreach { case (ps, r) =>
        require(r == 0 || ((ps & 0xf) >= 1 && ((ps >> 4) & 0xf) >= 1),
          "PPx/PPy must be >= 1 above resolution 0")
      }
    }
    def ppxOf(r: Int): Int = if (precSizes.isEmpty) 15 else precSizes(r) & 0xf
    def ppyOf(r: Int): Int = if (precSizes.isEmpty) 15 else (precSizes(r) >> 4) & 0xf
    val comps = planesIn.length
    require(comps >= 1 && comps <= 4)
    val xr = if (xrs.nonEmpty) xrs.toArray else Array.fill(comps)(1)
    val yr = if (yrs.nonEmpty) yrs.toArray else Array.fill(comps)(1)
    require(xr.length == comps && yr.length == comps)
    require(xr.forall(v => v >= 1 && v <= 255) && yr.forall(v => v >= 1 && v <= 255))
    val compX0 = Array.tabulate(comps)(c => Jpx.ceilDiv(xOff, xr(c)))
    val compY0 = Array.tabulate(comps)(c => Jpx.ceilDiv(yOff, yr(c)))
    val cwFull = Array.tabulate(comps)(c => Jpx.ceilDiv(w, xr(c)) - compX0(c))
    val chFull = Array.tabulate(comps)(c => Jpx.ceilDiv(h, yr(c)) - compY0(c))
    (0 until comps).foreach(c =>
      require(planesIn(c).length == cwFull(c) * chFull(c),
        s"plane $c must be on its component grid"))
    val xt = if (tileW > 0) tileW else w - xtOff
    val yt = if (tileH > 0) tileH else h - ytOff
    // DC shift + optional MCT, on component-grid planes
    val shifted = planesIn.map(_.map(_ - (1 << (depth - 1))))
    if (mct == 1) {
      require(comps >= 3)
      require((0 until 3).forall(c => xr(c) == xr(0) && yr(c) == yr(0)),
        "MCT requires identical sampling on components 0-2")
      var i = 0
      while (i < shifted(0).length) {
        val r = shifted(0)(i); val g = shifted(1)(i); val b = shifted(2)(i)
        if (reversible) {
          val y = (r + 2 * g + b) >> 2
          shifted(0)(i) = y
          shifted(1)(i) = b - g // Cb
          shifted(2)(i) = r - g // Cr
        } else {
          val y = 0.299 * r + 0.587 * g + 0.114 * b
          val cb = -0.168736 * r - 0.331264 * g + 0.5 * b
          val cr = 0.5 * r - 0.418688 * g - 0.081312 * b
          shifted(0)(i) = math.rint(y).toInt
          shifted(1)(i) = math.rint(cb).toInt
          shifted(2)(i) = math.rint(cr).toInt
        }
        i += 1
      }
    }

    val numXT = Jpx.ceilDiv(w - xtOff, xt)
    val numYT = Jpx.ceilDiv(h - ytOff, yt)
    val bos = new java.io.ByteArrayOutputStream()
    def w8(v: Int): Unit = bos.write(v & 0xff)
    def w16(v: Int): Unit = { w8(v >>> 8); w8(v) }
    def w32(v: Int): Unit = { w16(v >>> 16); w16(v) }
    // SOC
    w16(0xff4f)
    // SIZ
    w16(0xff51); w16(38 + 3 * comps); w16(0)
    w32(w); w32(h); w32(xOff); w32(yOff); w32(xt); w32(yt); w32(xtOff); w32(ytOff)
    w16(comps)
    for (c <- 0 until comps) { w8(depth - 1); w8(xr(c)); w8(yr(c)) }
    // COD: progression order; Scod bit 0 = custom precincts, bits 1/2
    // signal SOP/EPH marker segments
    w16(0xff52); w16(12 + precSizes.length)
    w8((if (precSizes.nonEmpty) 1 else 0) | (if (sop) 2 else 0) | (if (eph) 4 else 0))
    w8(prog); w16(layers); w8(mct)
    w8(levels); w8(cbExp - 2); w8(cbExp - 2)
    w8(cbStyle); w8(if (reversible) 1 else 0)
    precSizes.foreach(w8)
    // COC per-component overrides: same levels/cb/wavelet as the COD, but a
    // code-block style that may differ (A.6.2)
    cocStyles.toSeq.sortBy(_._1).foreach { case (ci, style) =>
      require(ci >= 0 && ci < comps)
      w16(0xff53); w16(9); w8(ci); w8(0 /*Scoc*/)
      w8(levels); w8(cbExp - 2); w8(cbExp - 2)
      w8(style); w8(if (reversible) 1 else 0)
    }

    // decompose every tile of every component first so QCD exponents can be
    // image-wide maxima (one QCD marker serves all tiles)
    val tilePlans = Array.tabulate(numYT * numXT) { ti =>
      val px = ti % numXT
      val py = ti / numXT
      val tx0 = math.max(xtOff + px * xt, xOff)
      val ty0 = math.max(ytOff + py * yt, yOff)
      val tx1 = math.min(xtOff + (px + 1) * xt, w)
      val ty1 = math.min(ytOff + (py + 1) * yt, h)
      Array.tabulate(comps) { c =>
        // tile-component rect on the component grid (B.3 ceil division)
        val cx0 = Jpx.ceilDiv(tx0, xr(c))
        val cy0 = Jpx.ceilDiv(ty0, yr(c))
        val cx1 = Jpx.ceilDiv(tx1, xr(c))
        val cy1 = Jpx.ceilDiv(ty1, yr(c))
        val tw = cx1 - cx0
        val th = cy1 - cy0
        val sub = new Array[Int](tw * th)
        var y = 0
        while (y < th) {
          System.arraycopy(shifted(c),
            (cy0 - compY0(c) + y) * cwFull(c) + (cx0 - compX0(c)), sub, y * tw, tw)
          y += 1
        }
        decompose(sub, tw, th, lvOf(ti), revOf(ti), cx0, cy0)
      }
    }
    // ROI (maxshift, Annex H): scale the masked coefficients up by SPrgn so
    // every nonzero ROI magnitude clears every background magnitude; the
    // decoder recovers them purely by the 2^SPrgn threshold, so an
    // over-approximated mask is legal — it never reaches the decoder.
    // `tis` scopes the shift: all tiles for a main-header RGN, one tile for
    // a first-tile-part RGN (TileCoding.roi). Returns the chosen SPrgn.
    def applyRoi(tis: Seq[Int], c: Int, rect: (Int, Int, Int, Int)): Int = {
      val (rx0, ry0, rx1, ry1) = rect
      require(c >= 0 && c < comps)
      require(rx0 >= 0 && rx0 < rx1 && rx1 <= w && ry0 >= 0 && ry0 < ry1 && ry1 <= h)
      // rectangle on the component's own sample grid
      val rcx0 = rx0 / xr(c); val rcx1 = Jpx.ceilDiv(rx1, xr(c))
      val rcy0 = ry0 / yr(c); val rcy1 = Jpx.ceilDiv(ry1, yr(c))
      // band-domain mask: coefficient (u,v) — ABSOLUTE band coordinates
      // since round 6's offset support — at decomposition level nb covers
      // component samples [u<<nb, (u+1)<<nb) widened by the 5/3 support
      def mask(lv: Int, r: Int, sb: SubbandPlan): Array[Boolean] = {
        val nb = if (r == 0) lv else lv - r + 1
        val pad = 2 << nb
        val bw = sb.x1 - sb.x0
        Array.tabulate(sb.coeffs.length) { i =>
          val u = sb.x0 + i % bw; val v = sb.y0 + i / bw
          val gx0 = (u << nb) - pad; val gx1 = ((u + 1) << nb) + pad
          val gy0 = (v << nb) - pad; val gy1 = ((v + 1) << nb) + pad
          gx0 < rcx1 && gx1 > rcx0 && gy0 < rcy1 && gy1 > rcy0
        }
      }
      var maxBg = 0
      var maxRoi = 0
      for (ti <- tis; r <- 0 to lvOf(ti); sb <- tilePlans(ti)(c)(r)) {
        val m = mask(lvOf(ti), r, sb)
        var i = 0
        while (i < sb.coeffs.length) {
          val a = math.abs(sb.coeffs(i))
          if (m(i)) { if (a > maxRoi) maxRoi = a } else if (a > maxBg) maxBg = a
          i += 1
        }
      }
      val sprgn = math.max(1, bits(maxBg))
      require(bits(maxRoi) + sprgn <= 30, "ROI shift would overflow the int lane")
      for (ti <- tis; r <- 0 to lvOf(ti); sb <- tilePlans(ti)(c)(r)) {
        val m = mask(lvOf(ti), r, sb)
        var i = 0
        while (i < sb.coeffs.length) {
          if (m(i) && sb.coeffs(i) != 0) {
            val v = sb.coeffs(i)
            sb.coeffs(i) = if (v < 0) -((-v) << sprgn) else v << sprgn
          }
          i += 1
        }
      }
      sprgn
    }
    val roiShifts = new Array[Int](comps)
    roi.toSeq.sortBy(_._1).foreach { case (c, rect) =>
      roiShifts(c) = applyRoi(tilePlans.indices, c, rect)
    }
    // tile-local ROI (first-tile-part RGN): reversible tiles only, same
    // constraint as the main lane
    val tileRoiShifts = scala.collection.mutable.HashMap.empty[(Int, Int), Int]
    tileCoding.toSeq.sortBy(_._1).foreach { case (ti, t) =>
      t.roi.toSeq.sortBy(_._1).foreach { case (c, rect) =>
        require(revOf(ti), "tile maxshift ROI: reversible tiles only")
        require(roiShifts(c) == 0, "tile ROI over a main-RGN component")
        tileRoiShifts((ti, c)) = applyRoi(Seq(ti), c, rect)
      }
    }
    // per-subband-position exponents, PER TILE (each tile's own levels /
    // wavelet / magnitudes) — tiles that use the main QCD contribute to its
    // image-wide maxima; ownQcd tiles signal their own array in a tile QCD
    val nSb = 3 * levels + 1
    def sbIndex(r: Int, kind: Int): Int = if (r == 0) 0 else 3 * (r - 1) + kind
    def ownQcdOf(ti: Int): Boolean = tcOf(ti).exists(_.ownQcd)
    val tileExp: Array[Array[Int]] = Array.tabulate(tilePlans.length) { ti =>
      val lv = lvOf(ti)
      val rev = revOf(ti)
      val ex = new Array[Int](3 * lv + 1)
      tilePlans(ti).foreach { plans =>
        var r = 0
        while (r <= lv) {
          plans(r).foreach { sb =>
            val maxMag = if (sb.coeffs.isEmpty) 0 else sb.coeffs.map(math.abs).max
            val needed = bits(maxMag)
            val e =
              if (rev) math.max(1, needed + 1 - Guard)
              else depth + sb.gain // delta = 1
            val i = sbIndex(r, sb.kind)
            if (e > ex(i)) ex(i) = e
            // irreversible sanity: Mb must cover the quantized magnitudes
            if (!rev && needed > Guard + e - 1)
              throw new IllegalStateException("9/7 magnitude exceeds Mb")
          }
          r += 1
        }
      }
      ex
    }
    val expByIdx = new Array[Int](nSb)
    java.util.Arrays.fill(expByIdx, if (reversible) 1 else depth) // floor when every tile overrides
    for (ti <- tilePlans.indices if !ownQcdOf(ti); i <- 0 until nSb)
      if (tileExp(ti)(i) > expByIdx(i)) expByIdx(i) = tileExp(ti)(i)
    // QCD
    if (reversible) {
      w16(0xff5c); w16(3 + nSb); w8(Guard << 5)
      expByIdx.foreach(e => w8(e << 3))
    } else {
      w16(0xff5c); w16(3 + 2 * nSb); w8((Guard << 5) | 2)
      expByIdx.foreach(e => w16(e << 11)) // μ = 0
    }
    // RGN per ROI component (A.6.3): Srgn 0 = maxshift
    for (c <- 0 until comps if roiShifts(c) > 0) {
      w16(0xff5e); w16(5); w8(c); w8(0); w8(roiShifts(c))
    }
    // POC (A.6.6): one entry per progression volume (Csiz < 257 form)
    if (poc.nonEmpty) {
      poc.foreach { case (rs, cs, lye, re, ce, pp) =>
        require(rs < re && cs < ce && ce <= comps && lye >= 1 && pp >= 0 && pp <= 4)
      }
      w16(0xff5f); w16(2 + 7 * poc.length)
      poc.foreach { case (rs, cs, lye, re, ce, pp) =>
        w8(rs); w8(cs); w16(lye); w8(re); w8(ce); w8(pp)
      }
    }

    // tiles — with PPM the packet headers collect into one group per tile
    // (one tile-part each here), emitted as main-header PPM segments
    val tileSections = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte], Array[Byte])]
    var ti = 0
    while (ti < numYT * numXT) {
      val body = new java.io.ByteArrayOutputStream()
      val hdrBuf = new java.io.ByteArrayOutputStream()
      val tpx = ti % numXT
      val tpy = ti / numXT
      val ttx0 = math.max(xtOff + tpx * xt, xOff)
      val tty0 = math.max(ytOff + tpy * yt, yOff)
      val ttx1 = math.min(xtOff + (tpx + 1) * xt, w)
      val tty1 = math.min(ytOff + (tpy + 1) * yt, h)
      val tLv = lvOf(ti)
      val tLayers = layersOf(ti)
      val tExp = if (ownQcdOf(ti)) tileExp(ti) else expByIdx
      val plans = Array.tabulate(comps) { c =>
        val tcx0 = Jpx.ceilDiv(ttx0, xr(c)); val tcx1 = Jpx.ceilDiv(ttx1, xr(c))
        val tcy0 = Jpx.ceilDiv(tty0, yr(c)); val tcy1 = Jpx.ceilDiv(tty1, yr(c))
        Array.tabulate(tLv + 1) { r =>
          val sh = tLv - r
          planResolution(tilePlans(ti)(c)(r), r, cbExpOf(ti), tExp, sbIndex,
            tLayers, styleOf(ti, c),
            rx0 = Jpx.ceilDiv(tcx0, 1 << sh), ry0 = Jpx.ceilDiv(tcy0, 1 << sh),
            rx1 = Jpx.ceilDiv(tcx1, 1 << sh), ry1 = Jpx.ceilDiv(tcy1, 1 << sh),
            ppx = ppxOfT(ti, r), ppy = ppyOfT(ti, r))
        }
      }
      // packet order per the signalled progression — the same stable-sort
      // realization of B.12 the decoder uses (precinct position projected
      // to the reference grid for the position-dependent orders)
      val basePk = for (c <- 0 until comps; r <- 0 to tLv;
                        p <- 0 until plans(c)(r).numPrec; l <- 0 until tLayers)
        yield (c, r, p, l)
      def posKey(c: Int, r: Int, p: Int): (Long, Long) = {
        val plan = plans(c)(r)
        val pi = p % plan.npw
        val pj = p / plan.npw
        // absolute precinct position clamped to the resolution origin — the
        // decoder's key verbatim, so both sides sort packets identically
        val px = math.max(plan.rx0.toLong, ((plan.rx0 >> plan.ppx) + pi).toLong << plan.ppx)
        val py = math.max(plan.ry0.toLong, ((plan.ry0 >> plan.ppy) + pj).toLong << plan.ppy)
        val shift = tLv - r
        ((py * yr(c)) << shift, (px * xr(c)) << shift)
      }
      def progKey(pg: Int, c: Int, r: Int, p: Int, l: Int): (Long, Long, Long, Long, Long) =
        pg match {
          case 0 => (l.toLong, r.toLong, c.toLong, p.toLong, 0L) // LRCP
          case 1 => (r.toLong, l.toLong, c.toLong, p.toLong, 0L) // RLCP
          case 2 => val (y, x) = posKey(c, r, p); (r.toLong, y, x, c.toLong, l.toLong)
          case 3 => val (y, x) = posKey(c, r, p); (y, x, c.toLong, r.toLong, l.toLong)
          case _ => val (y, x) = posKey(c, r, p); (c.toLong, y, x, r.toLong, l.toLong)
        }
      // this tile's POC: a TileCoding.poc (first-tile-part POC marker)
      // replaces the main-header POC wholesale for its tile (A.6.6)
      val tPoc = tcOf(ti).map(_.poc).filter(_.nonEmpty).getOrElse(poc)
      val order =
        if (tPoc.isEmpty)
          basePk.sortBy { case (c, r, p, l) => progKey(progOf(ti), c, r, p, l) }
        else {
          // mirror of the decoder's B.12.3 volume sequencing
          val emitted = scala.collection.mutable.HashSet.empty[(Int, Int, Int, Int)]
          val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
          tPoc.foreach { case (rs, cs, lye, re, ce, pg) =>
            basePk.filter { case (c, r, p, l) =>
              r >= rs && r < re && c >= cs && c < ce && l < lye &&
                !emitted((c, r, p, l))
            }.sortBy { case (c, r, p, l) => progKey(pg, c, r, p, l) }
              .foreach { t => emitted += t; out += t }
          }
          require(out.length == basePk.length, "POC volumes must cover every packet")
          out.toSeq
        }
      var seq = 0 // packet sequence number for SOP segments
      order.foreach { case (c, r, p, l) =>
        if (sopOf(ti)) {
          // SOP marker segment (A.8.1): FF91 Lsop=4 Nsop — tile stream
          body.write(0xff); body.write(0x91)
          body.write(0); body.write(4)
          body.write((seq >> 8) & 0xff); body.write(seq & 0xff)
          seq = (seq + 1) & 0xffff
        }
        val (hdrB, bodB) = emitPacket(plans(c)(r), l, tLayers, ephOf(ti), p)
        if (ppm || ppt) { hdrBuf.write(hdrB); body.write(bodB) }
        else { body.write(hdrB); body.write(bodB) }
      }
      // first-tile-part coding markers (A.4.2): COD when any SGcod/SPcod
      // field is overridden, COCs for per-component styles, QCD for ownQcd
      val thdr = new java.io.ByteArrayOutputStream()
      def t8(v: Int): Unit = thdr.write(v & 0xff)
      def t16(v: Int): Unit = { t8(v >>> 8); t8(v) }
      if (hasTileCod(ti)) {
        val tPrec = tcOf(ti).map(_.precSizes).getOrElse(Nil)
        t16(0xff52); t16(12 + tPrec.length)
        t8((if (tPrec.nonEmpty) 1 else 0) |
          (if (sopOf(ti)) 2 else 0) | (if (ephOf(ti)) 4 else 0))
        t8(progOf(ti)); t16(tLayers); t8(mct)
        t8(tLv); t8(cbExpOf(ti) - 2); t8(cbExpOf(ti) - 2)
        t8(tcOf(ti).flatMap(_.cbStyle).getOrElse(cbStyle))
        t8(if (revOf(ti)) 1 else 0)
        tPrec.foreach(t8)
      }
      tcOf(ti).flatMap(_.cocStyles).getOrElse(Map.empty).toSeq.sortBy(_._1)
        .foreach { case (ci, style) =>
          require(ci >= 0 && ci < comps)
          t16(0xff53); t16(9); t8(ci); t8(0 /*Scoc*/)
          t8(tLv); t8(cbExpOf(ti) - 2); t8(cbExpOf(ti) - 2)
          t8(style); t8(if (revOf(ti)) 1 else 0)
        }
      if (ownQcdOf(ti)) {
        val ex = tileExp(ti)
        if (revOf(ti)) {
          t16(0xff5c); t16(3 + ex.length); t8(Guard << 5)
          ex.foreach(e => t8(e << 3))
        } else {
          t16(0xff5c); t16(3 + 2 * ex.length); t8((Guard << 5) | 2)
          ex.foreach(e => t16(e << 11)) // μ = 0
        }
      }
      // tile-local RGN markers (A.6.3) for this tile's maxshift ROIs
      tileRoiShifts.toSeq.filter(_._1._1 == ti).sortBy(_._1._2)
        .foreach { case ((_, c), sprgn) =>
          t16(0xff5e); t16(5); t8(c); t8(0); t8(sprgn)
        }
      // tile-local POC marker (A.6.6): overrides the progression here
      val thdrPoc = tcOf(ti).map(_.poc).getOrElse(Nil)
      if (thdrPoc.nonEmpty) {
        thdrPoc.foreach { case (rs, cs, lye, re, ce, pp) =>
          require(rs < re && cs < ce && ce <= comps && lye >= 1 && pp >= 0 && pp <= 4)
        }
        t16(0xff5f); t16(2 + 7 * thdrPoc.length)
        thdrPoc.foreach { case (rs, cs, lye, re, ce, pp) =>
          t8(rs); t8(cs); t16(lye); t8(re); t8(ce); t8(pp)
        }
      }
      tileSections += ((hdrBuf.toByteArray, body.toByteArray, thdr.toByteArray))
      ti += 1
    }
    if (ppm) {
      // PPM segments (A.7.4): Nppm-prefixed group per tile-part, chunked
      // across segments with incrementing Zppm under the 16-bit Lppm cap
      val all = new java.io.ByteArrayOutputStream()
      tileSections.foreach { case (hdrB, _, _) =>
        all.write(hdrB.length >>> 24); all.write((hdrB.length >>> 16) & 0xff)
        all.write((hdrB.length >>> 8) & 0xff); all.write(hdrB.length & 0xff)
        all.write(hdrB)
      }
      val bytes = all.toByteArray
      var off = 0
      var z = 0
      while (off < bytes.length || z == 0) {
        val take = math.min(60000, bytes.length - off)
        w16(0xff60); w16(3 + take); w8(z)
        bos.write(bytes, off, take)
        off += take
        z += 1
      }
    }
    tileSections.zipWithIndex.foreach { case ((hdrB, bodyBytes, codingHdr), idx) =>
      if (ppt) {
        // PPT segments in this tile-part's header, chunked under Lppt's cap
        val pptBytes = new java.io.ByteArrayOutputStream()
        var off = 0
        var z = 0
        while (off < hdrB.length || z == 0) {
          val take = math.min(60000, hdrB.length - off)
          pptBytes.write(0xff); pptBytes.write(0x61)
          pptBytes.write(((3 + take) >> 8) & 0xff); pptBytes.write((3 + take) & 0xff)
          pptBytes.write(z)
          pptBytes.write(hdrB, off, take)
          off += take
          z += 1
        }
        val pb = pptBytes.toByteArray
        // SOT (Psot spans the PPT segments too)
        w16(0xff90); w16(10); w16(idx)
        w32(12 + pb.length + 2 + bodyBytes.length); w8(0); w8(1)
        bos.write(pb)
        w16(0xff93)
        bos.write(bodyBytes)
      } else {
        // SOT (Psot spans any first-tile-part coding markers)
        w16(0xff90); w16(10); w16(idx)
        w32(12 + codingHdr.length + 2 + bodyBytes.length); w8(0); w8(1)
        bos.write(codingHdr)
        w16(0xff93)
        bos.write(bodyBytes)
      }
    }
    w16(0xffd9) // EOC
    bos.toByteArray
  }

  /** Per-code-block Tier-2 state persisting across layers. */
  private final class BlkState(val segs: Array[Array[Byte]], val passes: Int,
      val zbp: Int, val nonzero: Boolean,
      val bypass: Boolean = false, val termAll: Boolean = false) {
    var lblock = 3
    var included = false
    var passOff = 0
    val segByteOff: Array[Int] = new Array[Int](segs.length)
    /** Passes belonging to codeword segment s (shared boundary math). */
    def segPasses(s: Int): Int = {
      var cnt = 0
      var p = 0
      while (p < passes) {
        if (Jpx.segmentOf(p, bypass, termAll) == s) cnt += 1
        p += 1
      }
      cnt
    }
  }

  /** One band-side precinct's tag-tree encoders over its code-block window
    * (mirror of the decoder's BandPrecinct). */
  private final class PrecinctEnc(val iMin: Int, val jMin: Int,
      val nw: Int, val nh: Int, val incl: TagTreeEnc, val zbps: TagTreeEnc)

  /** Per-resolution plan: block grid + encoded data + per-precinct tag-tree
    * encoders (which must persist across layers, like the decoder's), plus
    * the resolution's precinct grid for iteration. */
  private final class ResPlan(val perBand: Array[(Array[BlkState], Int, Int)],
      val precs: Array[Array[PrecinctEnc]], // per band, per precinct index
      val blkPrec: Array[Array[Int]], // per band, per block: precinct index
      val numPrec: Int, val npw: Int, val ppx: Int, val ppy: Int,
      val rx0: Int, val ry0: Int) // resolution-grid origin (absolute)

  private def planResolution(bands: Array[SubbandPlan], r: Int, cbExp: Int,
      expByIdx: Array[Int], sbIndex: (Int, Int) => Int, layers: Int,
      cbStyle: Int, rx0: Int, ry0: Int, rx1: Int, ry1: Int,
      ppx: Int = 15, ppy: Int = 15): ResPlan = {
    // precinct grid of the resolution (B.6 — anchored at ABSOLUTE 0, so an
    // offset/multi-tile resolution rect lands mid-grid like the decoder's)
    val npw = if (rx1 > rx0) Jpx.ceilDiv(rx1, 1 << ppx) - (rx0 >> ppx) else 0
    val nph = if (ry1 > ry0) Jpx.ceilDiv(ry1, 1 << ppy) - (ry0 >> ppy) else 0
    val numPrec = npw * nph
    val sub = if (r == 0) 0 else 1
    val cbW = 1 << math.min(cbExp, ppx - sub)
    val cbH = 1 << math.min(cbExp, ppy - sub)
    val ppxSub = ppx - sub
    val ppySub = ppy - sub
    val blkPrec = new Array[Array[Int]](bands.length)
    val perBand = bands.zipWithIndex.map { case (sb, bi) =>
      val bwd = sb.x1 - sb.x0
      val bhd = sb.y1 - sb.y0
      if (bwd <= 0 || bhd <= 0) { blkPrec(bi) = Array.empty; (Array.empty[BlkState], 0, 0) }
      else {
        // code-block grid aligned to absolute multiples of the block size
        // (B.7) — the decoder's mkBand math verbatim
        val gx0 = (sb.x0 / cbW) * cbW
        val gy0 = (sb.y0 / cbH) * cbH
        val nx = Jpx.ceilDiv(sb.x1 - gx0, cbW)
        val ny = Jpx.ceilDiv(sb.y1 - gy0, cbH)
        val pi0 = sb.x0 >> ppxSub
        val pj0 = sb.y0 >> ppySub
        val mb = Guard + expByIdx(sbIndex(r, sb.kind)) - 1
        blkPrec(bi) = new Array[Int](ny * nx)
        val blocks = Array.tabulate(ny * nx) { idx =>
          val i = idx % nx
          val j = idx / nx
          val bx0 = math.max(sb.x0, gx0 + i * cbW)
          val by0 = math.max(sb.y0, gy0 + j * cbH)
          val bx1 = math.min(sb.x1, gx0 + (i + 1) * cbW)
          val by1 = math.min(sb.y1, gy0 + (j + 1) * cbH)
          blkPrec(bi)(idx) = math.max(0, math.min(numPrec - 1,
            ((by0 >> ppySub) - pj0) * npw + ((bx0 >> ppxSub) - pi0)))
          val x0 = bx0 - sb.x0
          val y0 = by0 - sb.y0
          val bw2 = bx1 - bx0
          val bh2 = by1 - by0
          val vals = new Array[Int](bw2 * bh2)
          var maxMag = 0
          var yy = 0
          while (yy < bh2) {
            var xx = 0
            while (xx < bw2) {
              val v = sb.coeffs((y0 + yy) * bwd + (x0 + xx))
              val m = math.abs(v)
              if (m > maxMag) maxMag = m
              vals(yy * bw2 + xx) = if (v < 0) m | Int.MinValue else m
              xx += 1
            }
            yy += 1
          }
          if (maxMag == 0) new BlkState(Array.empty, 0, 0, nonzero = false)
          else {
            val zbp = mb - bits(maxMag)
            val (segs, passes) = encodeBlock(vals, bw2, bh2,
              Jpx.bandKindCtx(sb.kind), mb, zbp, cbStyle)
            new BlkState(segs, passes, zbp, nonzero = true,
              bypass = (cbStyle & 0x01) != 0, termAll = (cbStyle & 0x04) != 0)
          }
        }
        (blocks, nx, ny)
      }
    }
    // inclusion tag value = the block's FIRST layer with a nonzero pass
    // share (a block whose fair split gives layer 0 nothing first appears
    // later); never-included blocks carry layers (>= every threshold)
    def firstLayer(b: BlkState): Int = {
      if (!b.nonzero || b.passes == 0) return layers
      var l = 0
      while (l < layers && (b.passes.toLong * (l + 1) / layers).toInt == 0) l += 1
      l
    }
    val precs = perBand.zipWithIndex.map { case ((blocks, nx, _), bi) =>
      val out = new Array[PrecinctEnc](math.max(1, numPrec))
      if (blocks.nonEmpty) {
        // window of the band's code-block grid falling in each precinct
        val byPrec = blocks.indices.groupBy(blkPrec(bi))
        byPrec.foreach { case (p, idxs) =>
          val is = idxs.map(_ % nx)
          val js = idxs.map(_ / nx)
          val iMin = is.min; val jMin = js.min
          val nw = is.max - iMin + 1
          val nh = js.max - jMin + 1
          def leaves(f: Int => Int): Array[Int] = {
            val a = new Array[Int](nw * nh)
            idxs.foreach { idx =>
              a((idx / nx - jMin) * nw + (idx % nx - iMin)) = f(idx)
            }
            a
          }
          out(p) = new PrecinctEnc(iMin, jMin, nw, nh,
            new TagTreeEnc(nw, nh, leaves(i => firstLayer(blocks(i)))),
            new TagTreeEnc(nw, nh, leaves(i => blocks(i).zbp)))
        }
      }
      out
    }
    new ResPlan(perBand, precs, blkPrec, numPrec, math.max(1, npw),
      ppx, ppy, rx0, ry0)
  }

  /** One packet for (resolution plan, precinct, layer): first-inclusion via
    * the precinct's tag tree, re-inclusion via one bit, fair pass/byte split
    * across layers. */
  /** Emit one packet, returning (header bytes incl. any EPH, body bytes) —
    * concatenated for inline headers, split across the PPM stream and the
    * tile body when packed headers are in use. */
  private def emitPacket(plan: ResPlan, layer: Int, layers: Int,
      eph: Boolean = false, prec: Int = 0): (Array[Byte], Array[Byte]) = {
    // a block's layer share: passes split evenly by cumulative targets;
    // bytes are computed per codeword-segment piece at emission
    def layerShare(b: BlkState): Int = {
      if (!b.nonzero || b.passes == 0) return 0
      val targetPasses = (b.passes.toLong * (layer + 1) / layers).toInt
      math.max(0, targetPasses - b.passOff)
    }
    val bw = new BitWriter
    val segments = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Int, Int)]
    // emit a NON-EMPTY packet for every layer once the resolution has any
    // coded block at all — interchange convention: an empty packet before a
    // block's first inclusion would leave the inclusion tag tree un-advanced
    // and require multiple 0-bits at the first non-empty layer, which
    // jump-style inclusion trees (the vendored decoder's) cannot follow;
    // one inclusion 0-bit per layer keeps every conformant decoder in sync
    val any = plan.perBand.zipWithIndex.exists { case ((blocks, _, _), bi) =>
      blocks.indices.exists(i => plan.blkPrec(bi)(i) == prec && blocks(i).nonzero)
    }
    if (!any) {
      bw.bit(0) // this precinct carries no coded blocks at all
      bw.align()
      val out0 = new java.io.ByteArrayOutputStream()
      out0.write(bw.toArray)
      if (eph) { out0.write(0xff); out0.write(0x92) }
      return (out0.toByteArray, Array.empty[Byte])
    }
    bw.bit(1)
    plan.perBand.zipWithIndex.foreach { case ((blocks, nx, _), bi) =>
      val pe = if (prec < plan.precs(bi).length) plan.precs(bi)(prec) else null
      if (blocks.nonEmpty && pe != null) {
        var idx = 0
        while (idx < blocks.length) {
          if (plan.blkPrec(bi)(idx) == prec) {
          val b = blocks(idx)
          val i = idx % nx - pe.iMin
          val j = idx / nx - pe.jMin
          val lp = layerShare(b)
          if (!b.included) {
            pe.incl.encode(bw, i, j, layer + 1) // tag-tree first inclusion
          } else {
            bw.bit(if (lp > 0) 1 else 0) // re-inclusion bit
          }
          if (lp > 0) {
            if (!b.included) {
              pe.zbps.encode(bw, i, j, b.zbp + 1) // decode loops until pinned
              b.included = true
            }
            // coding passes (Table B.4)
            val p = lp
            if (p == 1) bw.bit(0)
            else if (p == 2) { bw.bit(1); bw.bit(0) }
            else if (p <= 5) { bw.bits(3, 2); bw.bits(p - 3, 2) }
            else if (p <= 36) { bw.bits(0xf, 4); bw.bits(p - 6, 5) }
            else { bw.bits(0x1ff, 9); bw.bits(p - 37, 7) }
            // split the contribution on codeword-segment boundaries
            // (B.10.7.2 — the decoder splits with the same shared math):
            // one length per piece; bytes within a segment spread across
            // layers proportionally to passes, remainder on the piece that
            // finishes the segment
            val pieces = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
            var passBase = b.passOff
            var remaining = lp
            while (remaining > 0) {
              val segIdx = Jpx.segmentOf(passBase, b.bypass, b.termAll)
              val room = Jpx.passesLeftInSegment(passBase, b.bypass, b.termAll)
              val take = math.min(remaining, room)
              val segTotal = b.segPasses(segIdx)
              val segBytes = if (segIdx < b.segs.length) b.segs(segIdx).length else 0
              var inSeg = 0
              var p = 0
              while (p < passBase) {
                if (Jpx.segmentOf(p, b.bypass, b.termAll) == segIdx) inSeg += 1
                p += 1
              }
              val endBytes =
                if (inSeg + take >= segTotal) segBytes
                else (segBytes.toLong * (inSeg + take) / segTotal).toInt
              val len = math.max(0, endBytes - b.segByteOff(segIdx))
              pieces += ((take, len, segIdx))
              passBase += take
              remaining -= take
            }
            // Lblock adaptation (persists across layers), then the lengths
            var need = b.lblock
            pieces.foreach { case (take, len, _) =>
              need = math.max(need, math.max(1, bits(len)) - Jpx.floorLog2(take))
            }
            while (b.lblock < need) { bw.bit(1); b.lblock += 1 }
            bw.bit(0)
            pieces.foreach { case (take, len, segIdx) =>
              bw.bits(len, b.lblock + Jpx.floorLog2(take))
              if (len > 0) segments += ((b.segs(segIdx), b.segByteOff(segIdx), len))
              b.segByteOff(segIdx) += len
            }
            b.passOff += lp
          }
          }
          idx += 1
        }
      }
    }
    bw.align()
    val out = new java.io.ByteArrayOutputStream()
    out.write(bw.toArray)
    if (eph) { out.write(0xff); out.write(0x92) } // end-of-packet-header
    val bod = new java.io.ByteArrayOutputStream()
    segments.foreach { case (d, off, len) => bod.write(d, off, len) }
    (out.toByteArray, bod.toByteArray)
  }

  /** Wrap a raw codestream in the minimal JP2 box set (signature, ftyp,
    * jp2h/ihdr+colr, jp2c) — the container flavor PDF also embeds. */
  def wrapJp2(codestream: Array[Byte], w: Int, h: Int, comps: Int,
      depth: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w32(v: Int): Unit = {
      out.write(v >>> 24); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    def box(typ: String, payload: Array[Byte]): Unit = {
      w32(8 + payload.length)
      typ.foreach(c => out.write(c.toInt))
      out.write(payload)
    }
    box("jP  ", Array[Byte](0x0d, 0x0a, 0x87.toByte, 0x0a))
    box("ftyp", "jp2 ".getBytes("ISO-8859-1") ++ Array[Byte](0, 0, 0, 0) ++
      "jp2 ".getBytes("ISO-8859-1"))
    val ihdr = new java.io.ByteArrayOutputStream()
    def i32(v: Int): Unit = {
      ihdr.write(v >>> 24); ihdr.write((v >>> 16) & 0xff)
      ihdr.write((v >>> 8) & 0xff); ihdr.write(v & 0xff)
    }
    i32(h); i32(w)
    ihdr.write(0); ihdr.write(comps)
    ihdr.write(depth - 1); ihdr.write(7); ihdr.write(0); ihdr.write(0)
    val colr = Array[Byte](1, 0, 0, 0, 0, 0,
      (if (comps >= 3) 16 else 17).toByte) // sRGB / greyscale
    val jp2h = new java.io.ByteArrayOutputStream()
    def sub(typ: String, payload: Array[Byte]): Unit = {
      val l = 8 + payload.length
      jp2h.write(l >>> 24); jp2h.write((l >>> 16) & 0xff)
      jp2h.write((l >>> 8) & 0xff); jp2h.write(l & 0xff)
      typ.foreach(c => jp2h.write(c.toInt))
      jp2h.write(payload)
    }
    sub("ihdr", ihdr.toByteArray)
    sub("colr", colr)
    box("jp2h", jp2h.toByteArray)
    box("jp2c", codestream)
    out.toByteArray
  }

  /** Deterministic gray test image: smooth gradient + bands + a box — enough
    * structure to exercise every coding pass and plane. */
  def testGray(w: Int, h: Int, seed: Long): Array[Int] = {
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val grad = (x * 255) / math.max(1, w - 1)
        val band = if (((x / 3 + 2 * y + seed) % 13) < 5) 60 else 0
        val box = if (x >= w / 4 && x < w / 2 && y >= h / 4 && y < h / 2) 120 else 0
        px(y * w + x) = math.min(255, (grad + band + box) / 2 + (seed % 7).toInt * 8)
        x += 1
      }
      y += 1
    }
    px
  }

  /** Minimal one-page PDF carrying one JPXDecode image XObject. `rgb` uses
    * three components + reversible RCT; `lossy` switches to the 9/7 wavelet;
    * `jp2` wraps the codestream in the JP2 box container; `sub420` emits a
    * three-component 4:2:0 stream (full-res luma, half-res chroma planes, no
    * MCT) — the subsampled shape scanned color PDFs actually carry. */
  def pdfWithJpx(w: Int, h: Int, seed: Long, rgb: Boolean = false,
      lossy: Boolean = false, jp2: Boolean = false,
      levels: Int = 2, sub420: Boolean = false,
      precincts: Boolean = false,
      /** All six code-block style bits at once (bypass + context reset +
        * terminate-all + vertically causal + predictable termination +
        * segmentation symbols) over two layers — multi-segment packets. */
      styles: Boolean = false,
      /** Maxshift ROI (RGN marker) over the image's central rectangle. */
      roi: Boolean = false,
      /** Odd reference-grid offsets (XOsiz 5, YOsiz 3): the w×h visible
        * image sits at an odd origin, driving the parity-general wavelet. */
      offsets: Boolean = false,
      /** Per-tile coding overrides (A.4.2): a 2-tile grid whose second tile
        * carries a first-tile-part COD (RLCP, 2 layers, smaller blocks,
        * fewer levels) and its own QCD. */
      tiles: Boolean = false): Array[Byte] = {
    import java.nio.charset.StandardCharsets.ISO_8859_1
    val planes =
      if (sub420) {
        val cw = (w + 1) / 2
        val ch = (h + 1) / 2
        Array(testGray(w, h, seed), testGray(cw, ch, seed + 3),
          testGray(cw, ch, seed + 7))
      } else if (rgb) Array(testGray(w, h, seed), testGray(w, h, seed + 3),
        testGray(w, h, seed + 7))
      else Array(testGray(w, h, seed))
    val ps = if (precincts) (0 to levels).map(r => if (r == 0) 0x44 else 0x44 + (if (r == levels) 0x11 else 0)) else Nil
    val roiRects: Map[Int, (Int, Int, Int, Int)] =
      if (roi) (0 until planes.length).map(c =>
        c -> ((w / 4, h / 4, 3 * w / 4, 3 * h / 4))).toMap
      else Map.empty
    val (xo, yo) = if (offsets) (5, 3) else (0, 0)
    val cs0 =
      if (sub420) encode(planes, w, h, 8, levels, reversible = !lossy,
        mct = 0, xrs = Seq(1, 2, 2), yrs = Seq(1, 2, 2), precSizes = ps,
        roi = roiRects)
      else encode(planes, w + xo, h + yo, 8, levels, reversible = !lossy,
        mct = if (rgb) 1 else 0, cbExp = if (precincts) 4 else 6, precSizes = ps,
        cbStyle = if (styles) 0x3f else 0, layers = if (styles) 2 else 1,
        roi = roiRects, xOff = xo, yOff = yo,
        tileW = if (tiles) 48 else 0,
        tileCoding = if (!tiles) Map.empty else Map(
          1 -> TileCoding(prog = Some(1), layers = Some(2),
            levels = Some(levels - 1), cbExp = Some(4), ownQcd = true)))
    val stream = if (jp2) wrapJp2(cs0, w, h, planes.length, 8) else cs0
    val csName = if (rgb || sub420) "/DeviceRGB" else "/DeviceGray"
    val content = s"q $w 0 0 $h 100 600 cm /ImX Do Q"
    PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        "/Resources << /XObject << /ImX 4 0 R >> >> /Contents 5 0 R >>",
      PdfWriter.stream(s"/Type /XObject /Subtype /Image /Width $w /Height $h " +
        s"/BitsPerComponent 8 /ColorSpace $csName /Filter /JPXDecode", stream),
      PdfWriter.stream("", content.getBytes(ISO_8859_1))))
  }
}
