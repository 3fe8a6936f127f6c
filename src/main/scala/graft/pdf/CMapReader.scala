package graft.pdf

import graft.lex.{ContentLexer, Tok}

import scala.collection.mutable.ArrayBuffer

/** The one CMap reader (Adobe CMap syntax, PDF 32000-1 §9.7.5) behind both
  * `/ToUnicode` streams and a Type0 font's embedded `/Encoding` CMap, as in
  * the reference, where CMapFactory (pdf.combined.js:31519-31539) and
  * readToUnicode (46503-46540) share one parser over the one lexer. It reads
  * `ContentLexer`'s tokens: codespacerange, cidrange/cidchar, bfchar/bfrange
  * with hex or array targets, `/WMode` and an `Identity-H`/`Identity-V`
  * usecmap, in file order (a later entry for a code wins).
  *
  * One entry rule for every section: an entry whose operands do not fit is
  * skipped, a code longer than 4 bytes is skipped, and after `MaxEntries`
  * codes in all (ranges expanded) nothing more is mapped, so one malformed
  * font neither exhausts the heap nor loses its other mappings.
  */
object CMapReader {

  final val MaxEntries = 1 << 20

  final case class CMap(codeBytes: Int, wmode: Int, identityBase: Boolean,
      toCid: Map[Int, Int], toUnicode: Map[Int, String])

  /** Operand kinds of one entry per section: S = string, N = number. */
  private val shapes = Map("codespacerange" -> "SS", "cidchar" -> "SN", "cidrange" -> "SSN",
    "bfchar" -> "SS", "bfrange" -> "SSS")

  private def kind(t: Tok): Char = t match {
    case _: Tok.Str => 'S'
    case _: Tok.Num => 'N'
    case _ => '-'
  }

  /** A code's bytes as an Int; None when empty or longer than 4 bytes. */
  private def code(t: Tok): Option[Int] = t match {
    case Tok.Str(s) if s.nonEmpty && s.length <= 4 => Some(s.foldLeft(0)((v, c) => (v << 8) | (c & 0xff)))
    case _ => None
  }

  /** A target's UTF-16BE code units; an odd last byte is a unit of its own. */
  private def utf16(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i + 1 < s.length) { sb.append(((s.charAt(i) & 0xff) << 8 | (s.charAt(i + 1) & 0xff)).toChar); i += 2 }
    if (i < s.length) sb.append((s.charAt(i) & 0xff).toChar)
    sb.toString
  }

  def read(data: Array[Byte]): CMap = {
    val lexer = new ContentLexer(data, ContentLexer.Commands.none)
    val toCid = Map.newBuilder[Int, Int]
    val toUnicode = Map.newBuilder[Int, String]
    var n = 0
    var codeBytes = 0
    var wmode = -1
    var identityBase = false
    var section = ""
    val ops = ArrayBuffer.empty[Tok]

    def put(add: => Unit): Unit = if (n < MaxEntries) { add; n += 1 }
    def range(lo: Int, hi: Int)(add: (Int, Int) => Unit): Unit = {
      var c = lo
      while (c <= hi && n < MaxEntries) { put(add(c, c - lo)); c += 1 }
    }
    def emit(): Unit = (section, ops.toSeq) match {
      case ("codespacerange", Seq(Tok.Str(lo), _)) => if (codeBytes == 0) codeBytes = math.max(1, lo.length)
      case ("cidchar", Seq(c, Tok.Num(cid))) =>
        for (k <- code(c) if cid >= 0 && cid <= Int.MaxValue) put(toCid += k -> cid.toInt)
      case ("cidrange", Seq(a, b, Tok.Num(cid))) =>
        for (lo <- code(a); hi <- code(b) if cid >= 0 && cid <= Int.MaxValue)
          range(lo, hi)((c, off) => toCid += c -> (cid.toInt + off))
      case ("bfchar", Seq(c, Tok.Str(dst))) => for (k <- code(c) if dst.nonEmpty) put(toUnicode += k -> utf16(dst))
      case ("bfrange", Seq(a, b, Tok.Str(dst))) =>
        // the last code unit counts up through the range
        val base = utf16(dst)
        for (lo <- code(a); hi <- code(b) if base.nonEmpty)
          range(lo, hi)((c, off) => toUnicode += c -> (base.init + (base.last + off).toChar))
      case _ => ()
    }

    var prev: Tok = Tok.EOF
    var tok = lexer.getObj()
    while (tok != Tok.EOF) {
      tok match {
        case Tok.Cmd(c) if c.startsWith("begin") => section = c.substring(5); ops.clear()
        case Tok.Cmd(c) if c.startsWith("end") => section = ""; ops.clear()
        case Tok.Cmd("usecmap") if prev == Tok.Name("Identity-H") || prev == Tok.Name("Identity-V") =>
          identityBase = true
        case Tok.Num(v) if prev == Tok.Name("WMode") && wmode < 0 => wmode = v.toInt
        case Tok.Cmd("[") if section == "bfrange" && ops.map(kind).mkString == "SS" =>
          // array target: one string per code, from the range's low end
          val lo = code(ops(0))
          val hi = code(ops(1))
          var c = lo.getOrElse(0)
          tok = lexer.getObj()
          while (tok != Tok.EOF && tok != Tok.Cmd("]")) {
            tok match {
              case Tok.Str(dst) if lo.isDefined && hi.exists(c <= _) =>
                put(toUnicode += c -> utf16(dst))
                c += 1
              case _ => ()
            }
            tok = lexer.getObj()
          }
          ops.clear()
        case t =>
          shapes.get(section).foreach { shape =>
            ops += t
            // drop leading operands until what is left can start an entry
            while (ops.nonEmpty && !shape.startsWith(ops.map(kind).mkString)) ops.remove(0)
            if (ops.length == shape.length) { emit(); ops.clear() }
          }
      }
      prev = tok
      tok = lexer.getObj()
    }
    CMap(if (codeBytes == 0) 2 else codeBytes, math.max(wmode, 0), identityBase,
      toCid.result(), toUnicode.result())
  }
}

/** Embedded CID CMap: the /Encoding STREAM of a Type0 font, mapping
  * charcodes to CIDs via cidrange/cidchar entries. Predefined non-Identity
  * NAMES still degrade to identity (both engines ship no Adobe cmap resource
  * files). */
object CidCMap {

  final case class Parsed(toCid: Map[Int, Int], wmode: Int, codeBytes: Int,
      identityBase: Boolean) {
    /** code → CID; unmapped codes fall back to the usecmap'd Identity base
      * (extendCMap merge semantics) or CID 0 (.notdef). */
    def cid(code: Int): Int = toCid.getOrElse(code, if (identityBase) code else 0)
  }

  /** The code byte count comes from the first codespacerange bound (2 when
    * there is none; mixed-width codespaces degrade to the first class). */
  def parse(data: Array[Byte]): Parsed = {
    val c = CMapReader.read(data)
    Parsed(c.toCid, c.wmode, c.codeBytes, c.identityBase)
  }
}

/** /ToUnicode CMap: bfchar and bfrange entries to UTF-16BE text. */
object ToUnicodeCMap {
  def parse(data: Array[Byte]): Map[Int, String] = CMapReader.read(data).toUnicode
}
