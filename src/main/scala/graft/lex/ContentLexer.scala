package graft.lex

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Tokens of PDF syntax (reference Lexer yields exactly these shapes —
  * pdf.combined.js:28154-28246). */
sealed trait Tok
object Tok {
  final case class Num(v: Double) extends Tok
  final case class Str(s: String) extends Tok // literal or hex string (byte-ish chars)
  final case class Name(n: String) extends Tok
  final case class Cmd(c: String) extends Tok // operators, keywords + [ ] << >> { }
  final case class Bool(b: Boolean) extends Tok
  case object Null extends Tok
  case object EOF extends Tok
}

/** The one tokenizer of PDF syntax, after the reference's Lexer
  * (pdf.combined.js:27841-28246), which likewise feeds every reader of PDF
  * syntax. Three read it: `eval.OpReader` (content streams),
  * `pdf.ObjParser` (objects, xref tables, object-stream headers, trailers)
  * and `pdf.CMapReader` (`/ToUnicode` and embedded CID CMaps).
  *
  * Byte-class table, Adobe-tolerant number lexing (`--`, mid-number `-`,
  * scientific E), literal strings with nested parens/escapes/octal/line-folds,
  * `#xx` name escapes, hex strings with invalid-char tolerance, comments, and
  * longest-prefix command disambiguation against a known-command set (handles
  * glued tokens like `q1`); with an empty set a command runs to the next
  * whitespace or delimiter, as in the reference's object lexer. The set
  * comes compiled into a byte trie ([[ContentLexer.Commands]]), so a
  * command token is classified one byte at a time and a known command comes
  * back as one shared token.
  *
  * Reading starts at `start`; [[offset]] is the index of the first byte not
  * yet consumed, which is how the object parser finds stream data.
  *
  * This is the hot inner loop of the extractor: one mutable cursor, one reusable
  * StringBuilder, no per-token allocation beyond the token itself. A name, or
  * a string without escapes or nested parentheses, is copied from the bytes
  * in one step.
  */
final class ContentLexer(data: Array[Byte], commands: ContentLexer.Commands, start: Int = 0) {

  import ContentLexer._

  private var pos = start
  private var cur: Int = if (pos >= 0 && pos < data.length) data(pos) & 0xff else -1

  /** Index of the first byte not yet consumed. */
  def offset: Int = pos

  private val strBuf = new StringBuilder(64)

  private def nextChar(): Int = {
    pos += 1
    cur = if (pos < data.length) data(pos) & 0xff else -1
    cur
  }
  private def peekChar(): Int =
    if (pos + 1 < data.length) data(pos + 1) & 0xff else -1

  private def getNumber(): Double = {
    var ch = cur
    var eNotation = false
    var divideBy = 0.0
    var sign = 1.0
    if (ch == '-') {
      sign = -1
      ch = nextChar()
      if (ch == '-') ch = nextChar() // Adobe-compatible double negative
    } else if (ch == '+') {
      ch = nextChar()
    }
    if (ch == '.') { divideBy = 10; ch = nextChar() }
    if (ch < '0' || ch > '9') return 0.0 // invalid number → 0 (reference errors then returns 0)
    var baseValue: Double = ch - '0'
    var powerValue = 0.0
    var powerValueSign = 1.0
    var done = false
    while (!done && { ch = nextChar(); ch >= 0 }) {
      if (ch >= '0' && ch <= '9') {
        val d = ch - '0'
        if (eNotation) powerValue = powerValue * 10 + d
        else {
          if (divideBy != 0) divideBy *= 10
          baseValue = baseValue * 10 + d
        }
      } else if (ch == '.') {
        if (divideBy == 0) divideBy = 1 else done = true
      } else if (ch == '-') {
        // ignore minus signs in the middle of numbers (Adobe behavior)
      } else if (ch == 'E' || ch == 'e') {
        val p = peekChar()
        if (p == '+' || p == '-') {
          powerValueSign = if (p == '-') -1 else 1
          nextChar()
          eNotation = true
        } else if (p < '0' || p > '9') done = true // E starts a new operator
        else eNotation = true
      } else done = true
    }
    if (divideBy != 0) baseValue /= divideBy
    if (eNotation) baseValue *= math.pow(10, powerValueSign * powerValue)
    sign * baseValue
  }

  private def getString(): String = {
    // fast path: the first `)`, `(` or `\\` after the opening paren closes it
    var end = pos + 1
    while (end < data.length && { val b = data(end); b != ')' && b != '(' && b != '\\' }) end += 1
    if (end < data.length && data(end) == ')') {
      val s = new String(data, pos + 1, end - pos - 1, ISO_8859_1)
      pos = end
      nextChar()
      return s
    }
    var numParen = 1
    var done = false
    strBuf.setLength(0)
    var ch = nextChar()
    while (!done) {
      var charBuffered = false
      if (ch == -1) done = true
      else if (ch == '(') { numParen += 1; strBuf.append('(') }
      else if (ch == ')') {
        numParen -= 1
        if (numParen == 0) { nextChar(); done = true } else strBuf.append(')')
      } else if (ch == '\\') {
        ch = nextChar()
        ch match {
          case -1 => done = true
          case 'n' => strBuf.append('\n')
          case 'r' => strBuf.append('\r')
          case 't' => strBuf.append('\t')
          case 'b' => strBuf.append('\b')
          case 'f' => strBuf.append('\f')
          case '\\' | '(' | ')' => strBuf.append(ch.toChar)
          case c if c >= '0' && c <= '7' =>
            var x = c & 0x0f
            ch = nextChar()
            charBuffered = true
            if (ch >= '0' && ch <= '7') {
              x = (x << 3) + (ch & 0x0f)
              ch = nextChar()
              if (ch >= '0' && ch <= '7') {
                charBuffered = false
                x = (x << 3) + (ch & 0x0f)
              }
            }
            strBuf.append(x.toChar)
          case 0x0d => if (peekChar() == 0x0a) nextChar() // escaped CRLF: line continuation
          case 0x0a => // escaped LF: line continuation
          case c => strBuf.append(c.toChar)
        }
      } else strBuf.append(ch.toChar)
      if (!done && !charBuffered) ch = nextChar()
    }
    strBuf.toString
  }

  private def getName(): String = {
    // fast path: a name without `#` escapes
    var end = pos + 1
    while (end < data.length && specialChars(data(end) & 0xff) == 0 && data(end) != '#') end += 1
    if (end >= data.length || data(end) != '#') {
      val s = new String(data, pos + 1, end - pos - 1, ISO_8859_1)
      pos = end - 1
      nextChar()
      return s
    }
    strBuf.setLength(0)
    var ch = nextChar()
    var done = false
    while (!done && ch >= 0 && specialChars(ch) == 0) {
      if (ch == '#') {
        ch = nextChar()
        if (ch < 0 || specialChars(ch) != 0) { strBuf.append('#'); done = true }
        else {
          val x = toHexDigit(ch)
          if (x != -1) {
            val prev = ch
            ch = nextChar()
            val x2 = toHexDigit(ch)
            if (x2 == -1) {
              strBuf.append('#').append(prev.toChar)
              if (ch < 0 || specialChars(ch) != 0) done = true
              else { strBuf.append(ch.toChar); ch = nextChar() }
            } else { strBuf.append(((x << 4) | x2).toChar); ch = nextChar() }
          } else { strBuf.append('#').append(ch.toChar); ch = nextChar() }
        }
      } else { strBuf.append(ch.toChar); ch = nextChar() }
    }
    strBuf.toString
  }

  private def getHexString(): String = {
    strBuf.setLength(0)
    var ch = cur
    var isFirstHex = true
    var firstDigit = 0
    var done = false
    while (!done) {
      if (ch < 0) done = true
      else if (ch == '>') { nextChar(); done = true }
      else if (specialChars(ch) == 1) ch = nextChar()
      else {
        val d = toHexDigit(ch)
        if (d == -1) ch = nextChar() // ignore invalid char
        else {
          if (isFirstHex) firstDigit = d
          else strBuf.append(((firstDigit << 4) | d).toChar)
          isFirstHex = !isFirstHex
          ch = nextChar()
        }
      }
    }
    strBuf.toString
  }

  def getObj(): Tok = {
    // skip whitespace and comments
    var comment = false
    var ch = cur
    var scanning = true
    while (scanning) {
      if (ch < 0) return Tok.EOF
      if (comment) { if (ch == 0x0a || ch == 0x0d) comment = false }
      else if (ch == '%') comment = true
      else if (specialChars(ch) != 1) scanning = false
      if (scanning) ch = nextChar()
    }

    ch match {
      case c if (c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.' =>
        return Tok.Num(getNumber())
      case '(' => return Tok.Str(getString())
      case '/' => return Tok.Name(getName())
      case '[' => nextChar(); return OpenArray
      case ']' => nextChar(); return CloseArray
      case '<' =>
        ch = nextChar()
        if (ch == '<') { nextChar(); return OpenDict }
        return Tok.Str(getHexString())
      case '>' =>
        ch = nextChar()
        if (ch == '>') { nextChar(); return CloseDict }
        return CloseAngle
      case '{' => nextChar(); return OpenBrace
      case '}' => nextChar(); return CloseBrace
      case ')' => nextChar(); return CloseParen // illegal; tolerated
      case _ => ()
    }

    // command token: reference rule (pdf.combined.js:28219-28245) — keep
    // accumulating; break early ONLY when the current token already IS a known
    // command and the next char would make it unknown (handles glued `q1`,
    // while malformed `Tq` stays one unknown token the evaluator skips).
    // `node` is the trie node the token spells so far, -1 once it left the trie.
    val tokenStart = pos
    var node = commands.step(0, ch)
    var knownCommandFound = commands.token(node) != null
    var done = false
    while (!done && { ch = nextChar(); ch >= 0 } && specialChars(ch) == 0) {
      val possible = commands.step(node, ch)
      if (knownCommandFound && commands.token(possible) == null) done = true
      else {
        node = possible
        knownCommandFound = commands.token(node) != null
      }
    }
    if (knownCommandFound) commands.token(node)
    else keyword(new String(data, tokenStart, pos - tokenStart, ISO_8859_1))
  }

  /** Skip inline-image data after `ID`: scan for whitespace-delimited `EI`
    * (reference findDefaultInlineStreamEnd state machine, pdf.combined.js:
    * 27384-27470 — we only need to *skip* the bytes correctly). */
  def seekAfterEI(): Unit = {
    var state = 0
    var ch = cur
    var done = false
    while (!done && ch >= 0) {
      if (state == 0) state = if (ch == 'E') 1 else 0
      else if (state == 1) state = if (ch == 'I') 2 else if (ch == 'E') 1 else 0
      else { // after "EI": must be followed by whitespace or EOF
        if (specialChars(ch) == 1) done = true
        else state = if (ch == 'E') 1 else 0
      }
      if (!done) ch = nextChar()
    }
  }

  /** Tokenize everything (test helper). */
  def tokens(): Vector[Tok] = {
    val b = Vector.newBuilder[Tok]
    var t = getObj()
    while (t != Tok.EOF) { b += t; t = getObj() }
    b.result()
  }
}

object ContentLexer {
  private val OpenArray = Tok.Cmd("[")
  private val CloseArray = Tok.Cmd("]")
  private val OpenDict = Tok.Cmd("<<")
  private val CloseDict = Tok.Cmd(">>")
  private val CloseAngle = Tok.Cmd(">")
  private val OpenBrace = Tok.Cmd("{")
  private val CloseBrace = Tok.Cmd("}")
  private val CloseParen = Tok.Cmd(")")

  private def keyword(s: String): Tok = s match {
    case "true" => Tok.Bool(true)
    case "false" => Tok.Bool(false)
    case "null" => Tok.Null
    case s => Tok.Cmd(s)
  }

  /** A known-command set compiled into a byte trie, once per set. Node 0 is
    * the root; node `n`'s child for an ASCII byte `b` is `next(n * 128 + b)`,
    * 0 when there is none (the root is nobody's child). A node that spells a
    * known command holds that command's one shared token. */
  final class Commands private (next: Array[Int], tokens: Array[Tok]) {
    /** The node after `node` reads byte `ch`; -1 off the trie. */
    private[lex] def step(node: Int, ch: Int): Int =
      if (node < 0 || ch >= 128) -1
      else { val n = next(node * 128 + ch); if (n == 0) -1 else n }

    /** The token of the command `node` spells; null for a bare prefix or -1. */
    private[lex] def token(node: Int): Tok = if (node < 0) null else tokens(node)
  }

  object Commands {
    def apply(names: Iterable[String]): Commands = {
      var next = new Array[Int](128)
      var tokens = new Array[Tok](1)
      var nodes = 1
      names.foreach { name =>
        require(name.nonEmpty && name.forall(c => c > 0 && c < 128), s"not an ASCII command: '$name'")
        var node = 0
        name.foreach { c =>
          val i = node * 128 + c
          if (next(i) == 0) {
            if (nodes == tokens.length) {
              next = java.util.Arrays.copyOf(next, next.length * 2)
              tokens = java.util.Arrays.copyOf(tokens, tokens.length * 2)
            }
            next(i) = nodes
            nodes += 1
          }
          node = next(i)
        }
        tokens(node) = keyword(name)
      }
      new Commands(next, tokens)
    }

    /** No known commands: a keyword runs to the next whitespace or delimiter. */
    val none: Commands = Commands(Nil)
  }

  /** Byte classes: 1 = whitespace, 2 = delimiter (pdf.combined.js:27865-27882). */
  val specialChars: Array[Int] = {
    val a = new Array[Int](256)
    for (c <- Seq(0x00, 0x09, 0x0a, 0x0c, 0x0d, 0x20)) a(c) = 1
    for (c <- Seq('%', '(', ')', '/', '<', '>', '[', ']', '{', '}')) a(c.toInt) = 2
    a
  }
  def toHexDigit(ch: Int): Int =
    if (ch >= '0' && ch <= '9') ch & 0x0f
    else if ((ch >= 'A' && ch <= 'F') || (ch >= 'a' && ch <= 'f')) (ch & 0x0f) + 9
    else -1
}
