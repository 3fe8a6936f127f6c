package graft.pdf

import graft.core.ResourceTable

import scala.collection.immutable.ArraySeq

/** Public Adobe font data tables, loaded from resources under
  * graft/fontdata/ (extracted from the reference's vendored copies of the
  * public Adobe Glyph List, predefined encodings, CFF standard strings,
  * core-14 AFM metrics and standard-font alias maps —
  * pdf.combined.js:5170 (AGL), 339-586 (encodings), 37484 (CFF strings),
  * 12896 (metrics), 16291-16420 (font maps); all of it published Adobe data).
  *
  * Each table is read at most once per JVM ([[ResourceTable]]): when a
  * resource is missing, every access rethrows the first failure, and
  * `FontLoader.load` falls back to Helvetica metrics.
  */
object FontData {

  private def table[A](name: String)(parse: Iterator[String] => A): ResourceTable[A] =
    new ResourceTable(s"/graft/fontdata/$name")(lines =>
      parse(lines.filterNot(l => l.isEmpty || l.startsWith("# "))))

  /** Adobe Glyph List: glyph name -> unicode code point. */
  def glyphsUnicode: Map[String, Int] = agl.get
  private val agl = table("agl.txt") { lines =>
    val b = Map.newBuilder[String, Int]
    lines.foreach { l =>
      val sp = l.indexOf(' ')
      if (sp > 0) b += l.substring(0, sp) -> Integer.parseInt(l.substring(sp + 1), 16)
    }
    b.result()
  }

  /** Predefined encodings as position->glyph-name arrays, replicating the
    * reference's literal array lengths (StandardEncoding is 252 entries there,
    * ExpertEncoding 255 — lookups and `.length` loops behave identically). */
  def encodings: Map[String, ArraySeq[String]] = encodingTable.get
  private val encodingTable = table("encodings.txt") { lines =>
    val out = Map.newBuilder[String, ArraySeq[String]]
    var cur: Array[String] = null
    var curName: String = null
    def flush(): Unit = if (curName != null) out += curName -> ArraySeq.unsafeWrapArray(cur)
    lines.foreach { l =>
      if (l.startsWith("#enc ")) {
        flush()
        val parts = l.substring(5).split(" ")
        curName = parts(0)
        val len = parts(1).stripPrefix("len=").toInt
        cur = Array.fill(len)("")
      } else {
        val sp = l.indexOf(' ')
        cur(l.substring(0, sp).toInt) = l.substring(sp + 1)
      }
    }
    flush()
    out.result()
  }

  def standardEncoding: ArraySeq[String] = encodings("StandardEncoding")
  def winAnsiEncoding: ArraySeq[String] = encodings("WinAnsiEncoding")
  def macRomanEncoding: ArraySeq[String] = encodings("MacRomanEncoding")
  def symbolSetEncoding: ArraySeq[String] = encodings("SymbolSetEncoding")
  def zapfDingbatsEncoding: ArraySeq[String] = encodings("ZapfDingbatsEncoding")
  def expertEncoding: ArraySeq[String] = encodings("ExpertEncoding")

  def getEncoding(name: String): Option[ArraySeq[String]] = name match {
    case "WinAnsiEncoding" => Some(winAnsiEncoding)
    case "StandardEncoding" => Some(standardEncoding)
    case "MacRomanEncoding" => Some(macRomanEncoding)
    case "SymbolSetEncoding" => Some(symbolSetEncoding)
    case "ZapfDingbatsEncoding" => Some(zapfDingbatsEncoding)
    case "ExpertEncoding" => Some(expertEncoding)
    case "MacExpertEncoding" => Some(expertEncoding)
    case _ => None
  }

  /** CFF standard strings, SID 0..390. */
  def cffStandardStrings: ArraySeq[String] = cffStrings.get
  private val cffStrings = table("cff-std-strings.txt")(lines => ArraySeq.unsafeWrapArray(lines.toArray))

  /** Core-14 metrics: font -> Left(monospace width) | Right(glyph name -> width). */
  def metrics: Map[String, Either[Double, Map[String, Double]]] = metricsTable.get
  private val metricsTable = table("metrics.txt") { lines =>
    val out = Map.newBuilder[String, Either[Double, Map[String, Double]]]
    var curName: String = null
    var curMap = Map.newBuilder[String, Double]
    def flush(): Unit = if (curName != null) out += curName -> Right(curMap.result())
    lines.foreach { l =>
      if (l.startsWith("#font ")) {
        flush()
        val rest = l.substring(6)
        val sp = rest.indexOf(' ')
        if (sp > 0 && rest.charAt(sp + 1) == '=') {
          out += rest.substring(0, sp) -> Left(rest.substring(sp + 2).toDouble)
          curName = null
        } else {
          curName = rest
          curMap = Map.newBuilder[String, Double]
        }
      } else if (curName != null) {
        val sp = l.indexOf(' ')
        curMap += l.substring(0, sp) -> l.substring(sp + 1).toDouble
      }
    }
    flush()
    out.result()
  }

  private val fontMapTable = table("font-maps.txt") { lines =>
    val out = Map.newBuilder[String, Map[String, String]]
    var curName: String = null
    var curMap = Map.newBuilder[String, String]
    def flush(): Unit = if (curName != null) out += curName -> curMap.result()
    lines.foreach { l =>
      if (l.startsWith("#map ")) {
        flush(); curName = l.substring(5); curMap = Map.newBuilder[String, String]
      } else {
        val sp = l.indexOf(' ')
        curMap += l.substring(0, sp) -> l.substring(sp + 1)
      }
    }
    flush()
    out.result()
  }

  private[graft] def fontMaps: Map[String, Map[String, String]] = fontMapTable.get
  def stdFontMap: Map[String, String] = fontMaps("stdFontMap")
  def nonStdFontMap: Map[String, String] = fontMaps("nonStdFontMap")
  def serifFonts: Set[String] = fontMaps("serifFonts").keySet
  def symbolsFonts: Set[String] = fontMaps("symbolsFonts").keySet

  /** getUnicodeForGlyph (pdf.combined.js:16676-16704): AGL lookup with
    * uniXXXX / uXXXX{XX} recovery (upper-case hex only). */
  def unicodeForGlyph(name: String): Int = {
    glyphsUnicode.get(name) match {
      case Some(u) => u
      case None =>
        if (name == null || name.isEmpty) return -1
        if (name.charAt(0) == 'u') {
          val n = name.length
          val hex =
            if (n == 7 && name.startsWith("uni")) name.substring(3)
            else if (n >= 5 && n <= 7) name.substring(1)
            else return -1
          if (hex == hex.toUpperCase && hex.forall(c => Character.digit(c, 16) >= 0)) {
            try {
              val u = Integer.parseInt(hex, 16)
              if (u >= 0) return u
            } catch { case _: NumberFormatException => () }
          }
        }
        -1
    }
  }
}
