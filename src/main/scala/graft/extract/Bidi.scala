package graft.extract

/** Bidi-lite (reference `bidi`, pdf.combined.js:1788-1990: UAX#9-lite with a
  * 30% RTL-character heuristic). Applied per line to whole-PDF page text
  * (`PdfDocument.pageText`, which `extractText` and `extract_turn`'s
  * whole-PDF dialect both read) and per item to the text items — the
  * reference runs its bidi transform in getTextContent and never in the SVG
  * path, so the golden/tspan surface and the content-stream fragment dialect
  * stay untouched.
  *
  * The transform is a visual→logical flip for RTL-dominant lines that is
  * RUN-aware, not a whole-line character reverse. Kept-order runs follow the
  * UAX#9 classes the reference's level reorder would keep left-to-right:
  * strongly-LTR letters, European AND Arabic-Indic digits (EN/AN — rule W2's
  * AN runs still read high-to-low), common separators BETWEEN two run members
  * (rule W4: "12.5", "1,000" stay numbers), and combining marks on a run
  * member. Combining marks elsewhere attach to their base code point (NSM
  * rule), so niqqud/harakat never detach under reversal. Everything else is a
  * single code point whose order flips with bracket mirroring; surrogate
  * pairs ride whole code points and cannot split.
  */
object Bidi {

  private def isRtlChar(c: Char): Boolean =
    (c >= 0x0590 && c <= 0x08ff) || // Hebrew, Arabic, Syriac, …
      (c >= 0xfb1d && c <= 0xfdff) || (c >= 0xfe70 && c <= 0xfeff)

  private def mirror(c: Char): Char = c match {
    case '(' => ')'
    case ')' => '('
    case '[' => ']'
    case ']' => '['
    case '{' => '}'
    case '}' => '{'
    case '<' => '>'
    case '>' => '<'
    case other => other
  }

  /** RTL fraction over strong-direction characters. */
  def rtlRatio(s: String): Double = {
    var rtl = 0
    var strong = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (isRtlChar(c)) { rtl += 1; strong += 1 }
      else if (Character.isLetter(c)) strong += 1
      i += 1
    }
    if (strong == 0) 0.0 else rtl.toDouble / strong
  }

  // UAX#9 class tests over the JDK directionality byte
  private def isRunMember(d: Byte): Boolean =
    d == Character.DIRECTIONALITY_LEFT_TO_RIGHT ||
      d == Character.DIRECTIONALITY_EUROPEAN_NUMBER ||
      d == Character.DIRECTIONALITY_ARABIC_NUMBER
  private def isNsm(d: Byte): Boolean =
    d == Character.DIRECTIONALITY_NONSPACING_MARK
  private def isSep(d: Byte): Boolean =
    d == Character.DIRECTIONALITY_COMMON_NUMBER_SEPARATOR ||
      d == Character.DIRECTIONALITY_EUROPEAN_NUMBER_SEPARATOR

  /** [[reverseIfRtl]] on each `\n`-separated line of `text`; text with no
    * RTL character comes back as it is, without a split. */
  def reverseRtlLines(text: String): String = {
    var i = 0
    while (i < text.length && !isRtlChar(text.charAt(i))) i += 1
    if (i == text.length) text
    else text.split("\n", -1).iterator.map(reverseIfRtl(_)).mkString("\n")
  }

  /** Run-aware visual→logical flip when the 30% heuristic fires (the
    * reference's threshold); otherwise identity. Two passes, no per-atom
    * allocation: atom boundaries collect into an int array, then one
    * StringBuilder emits them in reverse order. */
  def reverseIfRtl(s: String, threshold: Double = 0.3): String =
    if (rtlRatio(s) < threshold) s
    else {
      val n = s.length
      val bounds = new Array[Int](2 * n + 2)
      var m = 0
      var i = 0
      while (i < n) {
        val cp = s.codePointAt(i)
        var j = i + Character.charCount(cp)
        if (isRunMember(Character.getDirectionality(cp))) {
          // kept-order run: letters/digits, marks on them, separators between
          var done = false
          while (!done && j < n) {
            val cj = s.codePointAt(j)
            val dj = Character.getDirectionality(cj)
            if (isRunMember(dj) || isNsm(dj)) j += Character.charCount(cj)
            else if (isSep(dj)) {
              val k2 = j + Character.charCount(cj)
              if (k2 < n && isRunMember(Character.getDirectionality(s.codePointAt(k2))))
                j = k2 // separator BETWEEN members stays inside the run (W4)
              else done = true
            } else done = true
          }
        } else {
          // single code point; combining marks stay glued to their base
          while (j < n && isNsm(Character.getDirectionality(s.codePointAt(j))))
            j += Character.charCount(s.codePointAt(j))
        }
        bounds(2 * m) = i
        bounds(2 * m + 1) = j
        m += 1
        i = j
      }
      val sb = new java.lang.StringBuilder(n)
      var k = m - 1
      while (k >= 0) {
        val st = bounds(2 * k)
        val en = bounds(2 * k + 1)
        if (en - st == 1) sb.append(mirror(s.charAt(st)))
        else sb.append(s, st, en)
        k -= 1
      }
      sb.toString
    }
}
