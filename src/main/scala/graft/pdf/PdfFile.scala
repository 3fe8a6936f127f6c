package graft.pdf

import PObj._
import graft.lex.{ContentLexer, Tok}

import scala.collection.mutable

/** File-level object syntax: recursive descent over `ContentLexer`'s tokens,
  * after the reference's Parser.getObj (pdf.combined.js:27307-27379; SURVEY.md
  * §2.2 P1), with its two-token lookahead for `num gen R` and `>> stream`.
  * `PdfFile` reads objects, xref tables, the xref-stream and object-stream
  * headers, `startxref` and trailers through it. Reading starts at `start`.
  */
final class ObjParser(bytes: Array[Byte], start: Int) {

  import ObjParser._

  private var lexer: ContentLexer = _
  private var buf1: Tok = Tok.EOF
  private var buf2: Tok = Tok.EOF
  seek(start)

  private def seek(at: Int): Unit = {
    lexer = new ContentLexer(bytes, ContentLexer.Commands.none, at)
    buf1 = lexer.getObj()
    buf2 = lexer.getObj()
  }

  private def shift(): Unit = {
    buf1 = buf2
    buf2 = lexer.getObj()
  }

  private def isCmd(t: Tok, c: String): Boolean = t match {
    case Tok.Cmd(x) => x == c
    case _ => false
  }

  /** Consumes the keyword `kw` if it is the next token. */
  def keyword(kw: String): Boolean =
    if (isCmd(buf1, kw)) { shift(); true } else false

  /** True when the next token is a number. */
  def atNumber: Boolean = buf1.isInstanceOf[Tok.Num]

  /** Consumes the next token if it is a number and returns it as an Int;
    * otherwise returns 0 and consumes nothing. */
  def int(): Int = buf1 match {
    case Tok.Num(v) => shift(); v.toInt
    case _ => 0
  }

  /** Parse one object. A keyword other than true/false/null reads as null. */
  def parseValue(): PObj = value(0)

  /** An array or dict nested [[MaxDepth]] deep reads as null, and its tokens
    * are skipped without recursion (pdfium's parser bounds nesting at 64 too),
    * so no payload can exhaust the stack. */
  private def value(depth: Int): PObj = {
    val t = buf1
    shift()
    t match {
      case Tok.Num(n) =>
        buf1 match {
          case Tok.Num(g) if isCmd(buf2, "R") && isRefPart(n) && isRefPart(g) =>
            shift(); shift()
            PRef(n.toInt, g.toInt)
          case _ => PNum(n)
        }
      case Tok.Name(n) => PName(n)
      case Tok.Str(s) => PStr(s.toCharArray.map(_.toByte)) // chars are bytes (octal escapes wrap)
      case Tok.Bool(b) => PBool(b)
      case Tok.Cmd(open @ ("[" | "<<")) if depth >= MaxDepth => skipNested(open); PNull
      case Tok.Cmd("[") =>
        val items = Vector.newBuilder[PObj]
        while (!isCmd(buf1, "]") && buf1 != Tok.EOF) items += value(depth + 1)
        shift() // ']'
        PArr(items.result())
      case Tok.Cmd("<<") => parseDictOrStream(depth)
      case _ => PNull
    }
  }

  private def isRefPart(v: Double): Boolean = v >= 0 && v == math.floor(v) && v <= Int.MaxValue

  /** After `<<`: entries up to `>>`, then a stream when `stream` follows.
    * Raw stream bytes are sliced by /Length when it is a direct number and
    * `endstream` follows there; otherwise up to the next `endstream` (an
    * indirect /Length is resolved later by PdfFile). */
  private def parseDictOrStream(depth: Int): PObj = {
    val entries = Map.newBuilder[String, PObj]
    while (!isCmd(buf1, ">>") && buf1 != Tok.EOF) buf1 match {
      case Tok.Name(key) =>
        shift()
        // a key right before `>>` has no value: the dict ends there, key null
        entries += key -> (if (isCmd(buf1, ">>")) PNull else value(depth + 1))
      case _ => value(depth + 1) // not a key: read and drop a value
    }
    val dict = PDict(entries.result())
    if (!isCmd(buf2, "stream")) { shift(); return dict } // '>>'
    // buf2 is `stream`: the lexer stands right after the keyword.
    // EOL after 'stream': CRLF or LF (spec 7.3.8.1)
    var dataStart = lexer.offset
    if (dataStart < bytes.length && bytes(dataStart) == '\r') dataStart += 1
    if (dataStart < bytes.length && bytes(dataStart) == '\n') dataStart += 1
    val len = dict.get("Length") match {
      case Some(PNum(v)) => v.toInt
      case _ => -1 // indirect or missing: find endstream
    }
    val fits = len >= 0 && dataStart + len <= bytes.length
    if (fits) seek(dataStart + len)
    val dataEnd =
      if (fits && isCmd(buf1, "endstream")) dataStart + len
      else { val e = endstreamBefore(dataStart); seek(e); e }
    keyword("endstream")
    PStream(dict, java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd))
  }

  /** Skips to just after the bracket that closes `open`, pairing `[` with
    * `]` and `<<` with `>>` as the recursive reader does, on a stack of the
    * closers still expected (stream data in there is read as tokens). */
  private def skipNested(open: String): Unit = {
    val closers = scala.collection.mutable.ArrayBuffer(if (open == "[") "]" else ">>")
    while (closers.nonEmpty && buf1 != Tok.EOF) {
      buf1 match {
        case Tok.Cmd("[") => closers += "]"
        case Tok.Cmd("<<") => closers += ">>"
        case Tok.Cmd(c) if c == closers.last => closers.remove(closers.length - 1)
        case _ => ()
      }
      shift()
    }
  }

  /** The first `endstream` at or after `from`, less at most one EOL before
    * it (the end of the file when there is none). Stream data is not PDF
    * syntax, so this is a search, not a tokenization. */
  private def endstreamBefore(from: Int): Int = {
    var i = from
    while (i + Endstream.length <= bytes.length) {
      if (java.util.Arrays.equals(bytes, i, i + Endstream.length, Endstream, 0, Endstream.length)) {
        var e = i
        if (e > from && bytes(e - 1) == '\n') e -= 1
        if (e > from && bytes(e - 1) == '\r') e -= 1
        return e
      }
      i += 1
    }
    bytes.length
  }
}

object ObjParser {
  /** Deepest array or dict nesting the parser builds. */
  val MaxDepth = 64
  private val Endstream = "endstream".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
}

/** Cross-reference machinery + object fetch (SURVEY.md §2.1 S3-S9): startxref
  * scan, classic xref tables with /Prev chains, xref streams (/W,/Index),
  * object streams (/Type/ObjStm), and the never-fail full-file recovery scan
  * (reference XRef, pdf.combined.js:43156-43664; recovery indexObjects
  * 43341-43428).
  */
final class PdfFile(val bytes: Array[Byte]) {

  /** objNum -> Right(byte offset) | Left((objstm num, index within)). */
  private val entries = mutable.Map.empty[Int, Either[(Int, Int), Int]]
  private val cache = mutable.Map.empty[Int, PObj]
  var trailer: PDict = PDict(Map.empty)
  private var recovered = false
  private var decryptor: Option[Decryptor] = None
  private var encryptNum: Int = -1
  // declared before the parseXRef()/initDecryptor() constructor statements —
  // fetch runs during construction, so this must already be initialized
  private val inFlight = mutable.Set.empty[Int]

  parseXRef()
  initDecryptor()

  /** Standard security handler (empty user password). The /Encrypt dict object
    * itself is never encrypted; it is fetched before the decryptor exists. */
  private def initDecryptor(): Unit =
    try {
      trailer.get("Encrypt").foreach { encObj =>
        encryptNum = encObj match { case PRef(n, _) => n; case _ => -1 }
        resolve(encObj) match {
          case d: PDict =>
            val docId = trailer.get("ID").map(resolve) match {
              case Some(PArr(items)) if items.nonEmpty =>
                resolve(items.head) match { case PStr(b) => b; case _ => Array.emptyByteArray }
              case _ => Array.emptyByteArray
            }
            decryptor = Decryptor.fromEncryptDict(d, docId, resolve)
          case _ => ()
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Recursively decrypt strings and stream bytes of a fetched object
    * (xref streams are never encrypted; stream /Length stays plaintext). */
  private def decryptObj(o: PObj, dec: Decryptor, num: Int, gen: Int): PObj = o match {
    case PStream(d, raw) =>
      val isXref = d.get("Type").contains(PName("XRef"))
      // /EncryptMetadata false: the XMP metadata stream is stored plaintext —
      // running the cipher over it would garble it (reference fetches it with
      // suppressEncryption, pdf.combined.js:42562-42565)
      val isPlainMeta = !dec.encryptMetadata &&
        d.get("Type").contains(PName("Metadata"))
      val dd = decryptObj(d, dec, num, gen).asInstanceOf[PDict]
      if (isXref || isPlainMeta) PStream(dd, raw) else PStream(dd, dec.decrypt(raw, num, gen))
    case PStr(b) => PStr(dec.decrypt(b, num, gen))
    case PArr(items) => PArr(items.map(decryptObj(_, dec, num, gen)))
    case PDict(e) => PDict(e.map { case (k, v) => k -> decryptObj(v, dec, num, gen) })
    case other => other
  }

  def resolve(o: PObj): PObj = o match {
    case PRef(num, _) => resolve(fetch(num))
    case other => other
  }
  def dictGet(d: PDict, key: String): Option[PObj] =
    d.get(key).map(resolve).filter(_ != PNull)

  def decodeStream(s: PStream): Array[Byte] = Filters.decode(s, resolve)

  def fetch(num: Int): PObj = cache.get(num) match {
    case Some(v) => v
    case None =>
      // A corrupt xref can claim an ObjStm lives inside itself (or a mutual
      // A-in-B/B-in-A cycle); fetchFromObjStm -> fetch would then recurse
      // unboundedly and StackOverflowError escapes every never-fail catch.
      if (!inFlight.add(num)) return PNull
      // no getOrElseUpdate: the recovery retry re-enters this key, and
      // re-entrant getOrElseUpdate on a mutable map is undefined
      val v =
        try entries.get(num) match {
          case Some(Right(offset)) if offset >= 0 && offset < bytes.length =>
            parseObjectAt(offset, num)
          case Some(Left((stmNum, idx))) => fetchFromObjStm(stmNum, idx)
          case _ =>
            if (!recovered) { recoverScan(); fetchNoCache(num) }
            else PNull
        } finally inFlight.remove(num)
      cache(num) = v
      v
  }

  private def parseObjectAt(offset: Int, expectNum: Int): PObj = {
    val p = new ObjParser(bytes, offset)
    val n = p.int()
    val gen = p.int()
    if (!p.keyword("obj")) {
      if (!recovered && n != expectNum) { recoverScan(); return fetchNoCache(expectNum) }
      return PNull
    }
    var obj = p.parseValue()
    // an indirect /Length leaves the raw slice to the endstream scan; resolve
    // and re-slice when the scan-derived slice disagrees with the real length
    obj match {
      case PStream(dict, raw) =>
        dict.get("Length") match {
          case Some(r: PRef) =>
            resolve(r) match {
              case PNum(v) if v.toInt >= 0 && v.toInt <= raw.length =>
                obj = PStream(dict, java.util.Arrays.copyOf(raw, v.toInt))
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    decryptor match {
      case Some(dec) if expectNum != encryptNum => obj = decryptObj(obj, dec, expectNum, gen)
      case _ => ()
    }
    obj
  }

  private def fetchNoCache(num: Int): PObj = entries.get(num) match {
    case Some(Right(offset)) if offset >= 0 && offset < bytes.length => parseObjectAt(offset, num)
    case Some(Left((stmNum, idx))) => fetchFromObjStm(stmNum, idx)
    case _ => PNull
  }

  private def fetchFromObjStm(stmNum: Int, idx: Int): PObj = {
    resolve(fetch(stmNum)) match {
      case s: PStream =>
        val data = decodeStream(s)
        val n = dictGet(s.dict, "N").collect { case PNum(v) => v.toInt }.getOrElse(0)
        val first = dictGet(s.dict, "First").collect { case PNum(v) => v.toInt }.getOrElse(0)
        if (idx >= n) return PNull
        val hp = new ObjParser(data, 0)
        var off = -1
        var i = 0
        while (i <= idx) {
          hp.int() // obj num
          val o = hp.int()
          if (i == idx) off = o
          i += 1
        }
        if (off < 0) PNull
        else new ObjParser(data, first + off).parseValue()
      case _ => PNull
    }
  }

  // ── xref parsing ──────────────────────────────────────────────────────────

  private def parseXRef(): Unit = {
    try {
      val start = findStartXRef()
      if (start < 0) { recoverScan(); return }
      val visited = mutable.Set.empty[Int]
      var offset = start
      while (offset >= 0 && offset < bytes.length && visited.add(offset)) {
        offset = parseXRefSection(offset)
      }
      if (entries.isEmpty) recoverScan()
    } catch { case scala.util.control.NonFatal(_) => recoverScan() }
  }

  private def findStartXRef(): Int = {
    val tail = math.max(0, bytes.length - 1024)
    val s = new String(bytes, tail, bytes.length - tail, java.nio.charset.StandardCharsets.ISO_8859_1)
    val i = s.lastIndexOf("startxref")
    if (i < 0) return -1
    new ObjParser(bytes, tail + i + "startxref".length).int()
  }

  /** Parse one xref section (table or stream) at `offset`; returns /Prev or -1. */
  private def parseXRefSection(offset: Int): Int = {
    val p = new ObjParser(bytes, offset)
    if (p.keyword("xref")) {
      // classic table: subsections "first count", then "offset gen n|f" entries
      while (p.atNumber) {
        val first = p.int()
        val count = p.int()
        var i = 0
        while (i < count && p.atNumber) {
          val off = p.int()
          p.int() // gen
          val num = first + i
          val inUse = p.keyword("n")
          if (!inUse) p.keyword("f")
          if (inUse && !entries.contains(num)) entries(num) = Right(off)
          i += 1
        }
      }
      if (p.keyword("trailer")) {
        p.parseValue() match {
          case d: PDict =>
            mergeTrailer(d)
            // hybrid-reference file: /XRefStm points at an xref stream with
            // entries that take precedence in newer readers; parse it too
            d.get("XRefStm") match {
              case Some(PNum(v)) => parseXRefSection(v.toInt)
              case _ => ()
            }
            d.get("Prev") match {
              case Some(PNum(v)) => return v.toInt
              case _ => ()
            }
          case _ => ()
        }
      }
      -1
    } else {
      // xref stream: "N G obj << /Type /XRef ... >> stream"
      p.int(); p.int()
      if (!p.keyword("obj")) return -1
      p.parseValue() match {
        case s: PStream =>
          val dict = s.dict
          mergeTrailer(dict)
          val data = decodeStream(s)
          val w = dictGet(dict, "W") match {
            case Some(PArr(items)) => items.map(resolve).collect { case PNum(v) => v.toInt }
            case _ => return -1
          }
          val size = dictGet(dict, "Size").collect { case PNum(v) => v.toInt }.getOrElse(0)
          val index: Vector[Int] = dictGet(dict, "Index") match {
            case Some(PArr(items)) => items.map(resolve).collect { case PNum(v) => v.toInt }
            case _ => Vector(0, size)
          }
          val rowLen = w.sum
          var pos = 0
          var sec = 0
          while (sec + 1 < index.length) {
            val first = index(sec)
            val count = index(sec + 1)
            var i = 0
            while (i < count && pos + rowLen <= data.length) {
              var f = Array(if (w(0) == 0) 1L else 0L, 0L, 0L)
              var fi = 0
              var b = 0
              while (fi < 3) {
                var v = 0L
                var k = 0
                while (k < w(fi)) { v = (v << 8) | (data(pos + b) & 0xff); b += 1; k += 1 }
                if (w(fi) > 0) f = { f(fi) = v; f }
                fi += 1
              }
              val num = first + i
              if (!entries.contains(num)) {
                f(0) match {
                  case 1L => entries(num) = Right(f(1).toInt)
                  case 2L => entries(num) = Left((f(1).toInt, f(2).toInt))
                  case _ => () // free
                }
              }
              pos += rowLen
              i += 1
            }
            sec += 2
          }
          dictGet(dict, "Prev").collect { case PNum(v) => v.toInt }.getOrElse(-1)
        case _ => -1
      }
    }
  }

  private def mergeTrailer(d: PDict): Unit = {
    // first-seen wins: the newest section in the update chain is parsed first
    trailer = PDict(d.entries ++ trailer.entries)
  }

  /** Never-fail recovery: scan the whole file for "N G obj" headers (the
    * reference's XRef.indexObjects). Later offsets win — incremental updates
    * append replacement objects at the end of the file. */
  private def recoverScan(): Unit = {
    recovered = true
    val re = "(\\d+)\\s+(\\d+)\\s+obj\\b".r
    val s = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    for (m <- re.findAllMatchIn(s)) {
      // only accept headers at a line start-ish boundary
      val at = m.start
      if (at == 0 || s.charAt(at - 1) < '0' || s.charAt(at - 1) > '9') {
        entries(m.group(1).toInt) = Right(at)
      }
    }
    if (trailer.entries.isEmpty || !trailer.has("Root")) {
      val ti = s.lastIndexOf("trailer")
      if (ti >= 0) {
        val p = new ObjParser(bytes, ti + "trailer".length)
        p.parseValue() match {
          case d: PDict => mergeTrailer(d)
          case _ => ()
        }
      }
      if (!trailer.has("Root")) {
        // find any /Type /Catalog object
        val ci = s.indexOf("/Catalog")
        if (ci >= 0) {
          val hi = s.lastIndexOf("obj", ci)
          if (hi > 0) {
            val m2 = "(\\d+)\\s+(\\d+)\\s+obj".r.findAllMatchIn(s.substring(0, hi + 3)).toSeq.lastOption
            m2.foreach(m => mergeTrailer(PDict(Map("Root" -> PRef(m.group(1).toInt, m.group(2).toInt)))))
          }
        }
      }
    }
  }
}
