package graft.pdf

import java.io.ByteArrayOutputStream
import java.util.zip.{DataFormatException, Inflater}

/** Stream filters (SURVEY.md §2.1 S10-S12, §2.3 filter dispatch): Flate with
  * PNG/TIFF predictors, LZW, ASCIIHex, ASCII85, RunLength. Image-only codecs
  * (DCT/JPX/CCITT/JBIG2) are intentionally not decoded — image XObjects are
  * consumed as markers by the evaluator (reference behavior scoped in
  * SURVEY.md §2: the text path never inflates raster data).
  *
  * Semantics mirror the reference decoders — FlateStream
  * (pdf.combined.js:21790-22152), LZWStream (23825-23955), Ascii85Stream
  * (22635-22734), AsciiHexStream (22735-22826), RunLengthStream (22827-22869),
  * PredictorStream (22153-22359) — re-expressed over java.util.zip and plain
  * arrays.
  */
object Filters {

  /** Decode a stream's bytes per its /Filter chain. Unknown/image filters stop
    * the chain and return what is decoded so far (pdf.js warns and carries the
    * raw bytes the same way). */
  def decode(stream: PObj.PStream, resolve: PObj => PObj): Array[Byte] = {
    val dict = stream.dict
    val filters: Vector[String] = resolve(dict.get("Filter").getOrElse(PObj.PNull)) match {
      case PObj.PName(n) => Vector(n)
      case PObj.PArr(items) => items.map(resolve).collect { case PObj.PName(n) => n }
      case _ => Vector.empty
    }
    val paramsList: Vector[Option[PObj.PDict]] = resolve(
      dict.get("DecodeParms").orElse(dict.get("DP")).getOrElse(PObj.PNull)) match {
      case d: PObj.PDict => Vector(Some(d))
      case PObj.PArr(items) =>
        items.map(resolve).map { case d: PObj.PDict => Some(d); case _ => None }
      case _ => Vector.empty
    }
    var data = stream.raw
    var i = 0
    while (i < filters.length) {
      val params = paramsList.lift(i).flatten
      filters(i) match {
        case "FlateDecode" | "Fl" => data = predictor(flate(data), params, resolve)
        case "LZWDecode" | "LZW" =>
          val early = params.flatMap(_.get("EarlyChange")).map(resolve) match {
            case Some(PObj.PNum(v)) => v.toInt
            case _ => 1
          }
          data = predictor(lzw(data, early), params, resolve)
        case "ASCIIHexDecode" | "AHx" => data = asciiHex(data)
        case "ASCII85Decode" | "A85" => data = ascii85(data)
        case "RunLengthDecode" | "RL" => data = runLength(data)
        case _ => return data // image codec or unknown: stop, return as-is
      }
      i += 1
    }
    data
  }

  /** One thread's inflaters (zlib and raw deflate) and output scratch, reused
    * across streams: a stream decode allocates only its exact-length result. */
  private final class FlateScratch {
    val zlib = new Inflater(false)
    val raw = new Inflater(true)
    var out = new Array[Byte](FlateScratchInitial)
  }
  private val FlateScratchInitial = 64 * 1024
  /** Largest output buffer a thread keeps between streams; a larger stream's
    * buffer is dropped once its copy is out. */
  private[pdf] val FlateScratchRetained = 1024 * 1024
  private val flateScratch = ThreadLocal.withInitial[FlateScratch](() => new FlateScratch)

  /** zlib inflate; tolerates raw-deflate streams (missing zlib header) the way
    * FlateStream's lenient header check does. */
  def flate(data: Array[Byte]): Array[Byte] = {
    val s = flateScratch.get
    def inflateWith(inf: Inflater): Array[Byte] = {
      inf.reset()
      inf.setInput(data)
      var out = s.out
      var len = 0
      var truncated = false
      while (!truncated && !inf.finished() && !inf.needsDictionary()) {
        // the one place the output grows: a bound on decoded bytes belongs here
        if (len == out.length) out = grow(out)
        val n = inf.inflate(out, len, out.length - len)
        // truncated stream: keep what we have (never-fail discipline)
        if (n == 0 && inf.needsInput()) truncated = true
        len += n
      }
      if (out.length <= FlateScratchRetained) s.out = out
      java.util.Arrays.copyOf(out, len)
    }
    try inflateWith(s.zlib)
    catch { case _: DataFormatException => try inflateWith(s.raw) catch { case _: DataFormatException => Array.emptyByteArray } }
  }

  private def grow(buf: Array[Byte]): Array[Byte] = {
    val cap = math.min(buf.length * 2L, Int.MaxValue - 8L).toInt
    if (cap <= buf.length) throw new OutOfMemoryError("inflated stream exceeds the largest array")
    java.util.Arrays.copyOf(buf, cap)
  }

  /** PNG (predictor >= 10) and TIFF (predictor 2) de-prediction. */
  def predictor(data: Array[Byte], params: Option[PObj.PDict], resolve: PObj => PObj): Array[Byte] = {
    val p = params match {
      case Some(d) => d.get("Predictor").map(resolve) match {
        case Some(PObj.PNum(v)) => v.toInt
        case _ => 1
      }
      case None => 1
    }
    if (p <= 1) return data
    def intParam(key: String, dflt: Int): Int = params.flatMap(_.get(key)).map(resolve) match {
      case Some(PObj.PNum(v)) => v.toInt
      case _ => dflt
    }
    val colors = intParam("Colors", 1)
    val bpc = intParam("BitsPerComponent", 8)
    val columns = intParam("Columns", 1)
    val pixBytes = (colors * bpc + 7) / 8
    val rowBytes = (columns * colors * bpc + 7) / 8

    if (p == 2) { // TIFF horizontal differencing (8-bit components only here)
      if (bpc != 8) return data
      val out = data.clone()
      val rows = out.length / rowBytes
      var r = 0
      while (r < rows) {
        val base = r * rowBytes
        var i = pixBytes
        while (i < rowBytes) {
          out(base + i) = ((out(base + i) + out(base + i - pixBytes)) & 0xff).toByte
          i += 1
        }
        r += 1
      }
      return out
    }
    // PNG predictors: each row starts with a filter-type byte
    val rows = data.length / (rowBytes + 1)
    val out = new Array[Byte](rows * rowBytes)
    var prev = new Array[Byte](rowBytes)
    var r = 0
    while (r < rows) {
      val ft = data(r * (rowBytes + 1)) & 0xff
      val src = r * (rowBytes + 1) + 1
      val dst = r * rowBytes
      var i = 0
      while (i < rowBytes) {
        val raw = data(src + i) & 0xff
        val left = if (i >= pixBytes) out(dst + i - pixBytes) & 0xff else 0
        val up = prev(i) & 0xff
        val ul = if (i >= pixBytes) prev(i - pixBytes) & 0xff else 0
        val v = ft match {
          case 0 => raw
          case 1 => raw + left
          case 2 => raw + up
          case 3 => raw + ((left + up) >> 1)
          case 4 => // Paeth
            val pp = left + up - ul
            val pa = math.abs(pp - left); val pb = math.abs(pp - up); val pc = math.abs(pp - ul)
            raw + (if (pa <= pb && pa <= pc) left else if (pb <= pc) up else ul)
          case _ => raw
        }
        out(dst + i) = (v & 0xff).toByte
        i += 1
      }
      prev = java.util.Arrays.copyOfRange(out, dst, dst + rowBytes)
      r += 1
    }
    out
  }

  def asciiHex(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i).toChar
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'a' && c <= 'f') c - 'a' + 10
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else if (c == '>') { done = true; -1 }
        else -1
      if (d >= 0) {
        if (hi < 0) hi = d
        else { out.write((hi << 4) | d); hi = -1 }
      }
      i += 1
    }
    if (hi >= 0) out.write(hi << 4) // odd count: final digit, low nibble 0
    out.toByteArray
  }

  def ascii85(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var n = 0
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val c = data(i).toChar
      if (c == '~') done = true
      else if (c == 'z' && n == 0) { out.write(0); out.write(0); out.write(0); out.write(0) }
      else if (c >= '!' && c <= 'u') {
        grp(n) = c - '!'
        n += 1
        if (n == 5) {
          var v = 0L
          var k = 0
          while (k < 5) { v = v * 85 + grp(k); k += 1 }
          out.write(((v >> 24) & 0xff).toInt); out.write(((v >> 16) & 0xff).toInt)
          out.write(((v >> 8) & 0xff).toInt); out.write((v & 0xff).toInt)
          n = 0
        }
      }
      i += 1
    }
    if (n > 0) { // partial group: pad with 'u', emit n-1 bytes
      var k = n
      while (k < 5) { grp(k) = 84; k += 1 }
      var v = 0L
      k = 0
      while (k < 5) { v = v * 85 + grp(k); k += 1 }
      val bytes = Array(((v >> 24) & 0xff).toInt, ((v >> 16) & 0xff).toInt, ((v >> 8) & 0xff).toInt)
      k = 0
      while (k < n - 1) { out.write(bytes(k)); k += 1 }
    }
    out.toByteArray
  }

  def runLength(data: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length * 2)
    var i = 0
    var done = false
    while (i < data.length && !done) {
      val l = data(i) & 0xff
      if (l == 128) done = true
      else if (l < 128) {
        val n = l + 1
        out.write(data, i + 1, math.min(n, data.length - i - 1))
        i += n
      } else {
        if (i + 1 < data.length) {
          val n = 257 - l
          var k = 0
          while (k < n) { out.write(data(i + 1)); k += 1 }
        }
        i += 1
      }
      i += 1
    }
    out.toByteArray
  }

  /** LZW with variable code width 9-12 bits and PDF EarlyChange semantics. */
  def lzw(data: Array[Byte], earlyChange: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream(data.length * 3)
    val dictSize = 4096
    val dict = new Array[Array[Byte]](dictSize)
    var next = 258
    var codeWidth = 9
    var prev: Array[Byte] = null
    var bitBuf = 0L
    var bits = 0
    var i = 0
    def resetDict(): Unit = { next = 258; codeWidth = 9; prev = null }
    while (i < data.length || bits >= codeWidth) {
      while (bits < codeWidth && i < data.length) {
        bitBuf = (bitBuf << 8) | (data(i) & 0xff); bits += 8; i += 1
      }
      if (bits < codeWidth) return out.toByteArray
      val code = ((bitBuf >> (bits - codeWidth)) & ((1 << codeWidth) - 1)).toInt
      bits -= codeWidth
      if (code == 256) resetDict()
      else if (code == 257) return out.toByteArray
      else {
        val entry: Array[Byte] =
          if (code < 256) Array(code.toByte)
          else if (code < next && dict(code) != null) dict(code)
          else if (prev != null) prev :+ prev(0)
          else return out.toByteArray
        out.write(entry, 0, entry.length)
        if (prev != null && next < dictSize) {
          dict(next) = prev :+ entry(0)
          next += 1
        }
        prev = entry
        // EarlyChange=1 bumps the code width one entry early: the switch happens
        // when next+earlyChange reaches a power of two (next==511 for 9->10), per
        // the reference decoder (pdf.combined.js:23928).
        if (next + earlyChange >= (1 << codeWidth) && codeWidth < 12) codeWidth += 1
      }
    }
    out.toByteArray
  }
}
