package graft.html

import graft.core.Span

import scala.collection.mutable.ArrayBuffer

/** Main-content extraction from HTML via text-density / link-density node scoring
  * and tag-path pruning (the north-star "glyph/node classifier" applied to the
  * HTML dialect; generalizes the reference's span/bbox annotation mechanism,
  * pdfToSvg.js:124-168, to character-offset spans).
  *
  * Heuristics (public boilerplate-removal literature: Boilerpipe/jusText-style
  * densitometry):
  *   - structural boilerplate tags dropped outright (nav/footer/aside/script/…);
  *   - class/id token match on boilerplate vocabulary drops the subtree;
  *   - link density (linked chars / chars) above threshold drops a block;
  *   - remaining block-level nodes emit their text as kept blocks with spans.
  */
object Boilerplate {

  final case class Extraction(text: String, spans: Seq[Span], droppedNodes: Int)

  private val dropTags = Set("nav", "footer", "header", "aside", "script", "style",
    "noscript", "form", "button", "select", "iframe", "svg", "head", "template")
  private val boilerClassRe =
    "(?i)(^|[-_ ])(nav|menu|sidebar|footer|header|banner|ad|ads|advert|promo|share|social|comment|related|breadcrumb|pagination|cookie|popup|subscribe)([-_ ]|$)".r
  private val blockTags = Set("p", "div", "section", "article", "main", "blockquote",
    "pre", "li", "td", "th", "h1", "h2", "h3", "h4", "h5", "h6", "figcaption", "dd", "dt")
  private val LinkDensityMax = 0.33

  private final case class NodeStats(chars: Int, linkedChars: Int) {
    def linkDensity: Double = if (chars == 0) 1.0 else linkedChars.toDouble / chars
  }

  private def stats(n: HNode, inLink: Boolean): NodeStats = n match {
    case HText(t) =>
      val c = t.count(!_.isWhitespace)
      NodeStats(c, if (inLink) c else 0)
    case e: HElem =>
      val link = inLink || e.tag == "a"
      e.children.foldLeft(NodeStats(0, 0)) { (acc, ch) =>
        val s = stats(ch, link)
        NodeStats(acc.chars + s.chars, acc.linkedChars + s.linkedChars)
      }
  }

  // <br> marks a hard line break with U+2028 so normalizeWs can distinguish it
  // from collapsible source whitespace
  private val HardBreak = ' '

  private def rawText(n: HNode, sb: StringBuilder): Unit = n match {
    case HText(t) => sb.append(t)
    case e: HElem =>
      if (e.tag == "br") sb.append(HardBreak)
      e.children.foreach(rawText(_, sb))
  }

  /** Structural boilerplate: applies at any level (drops the subtree). */
  private def isStructuralBoilerplate(e: HElem): Boolean =
    dropTags(e.tag) ||
      boilerClassRe.findFirstIn(e.attr("class") + " " + e.attr("id")).isDefined

  /** Density boilerplate: applies to LEAF blocks only — a container's link
    * density is dominated by its boilerplate children and would wrongly kill
    * short main content, so containers recurse and let subtrees decide. */
  private def isDenseBoilerplate(s: NodeStats): Boolean =
    s.chars > 0 && s.linkDensity > LinkDensityMax

  /** Extract main content: walk the tree, prune boilerplate subtrees, emit each
    * surviving block-level node's directly-owned text as one block. Blocks joined
    * by "\n"; spans mark each block with its tag path label. */
  def extract(html: String, blockSep: String = "\n"): Extraction = {
    val root = DomLite.parse(html)
    val blocks = ArrayBuffer.empty[(String, String)] // (text, label)
    var dropped = 0

    def walk(e: HElem, path: String): Unit = {
      // consecutive inline content (loose text, <b>, <a>, <thinking>-style
      // unknown tags, <br>) groups into a synthetic block — text outside block
      // tags must never be silently lost
      val inlineRun = ArrayBuffer.empty[HNode]
      def flushInline(): Unit = {
        if (inlineRun.nonEmpty) {
          val st = inlineRun.foldLeft(NodeStats(0, 0)) { (acc, n) =>
            val s = stats(n, inLink = false)
            NodeStats(acc.chars + s.chars, acc.linkedChars + s.linkedChars)
          }
          if (isDenseBoilerplate(st)) dropped += 1
          else {
            val sb = new StringBuilder
            inlineRun.foreach(rawText(_, sb))
            val t = normalizeWs(sb.toString)
            if (t.nonEmpty) blocks += ((t, if (path.isEmpty) "#text" else path))
          }
          inlineRun.clear()
        }
      }
      e.children.foreach {
        case child: HElem if isStructuralBoilerplate(child) =>
          flushInline(); dropped += 1
        case child: HElem =>
          val childPath = if (path.isEmpty) child.tag else s"$path>${child.tag}"
          val hasBlockDescendant = child.children.exists {
            case el: HElem => containsBlock(el)
            case _ => false
          }
          if (blockTags(child.tag) && !hasBlockDescendant) {
            flushInline()
            if (isDenseBoilerplate(stats(child, inLink = false))) dropped += 1
            else {
              val sb = new StringBuilder
              rawText(child, sb)
              val t = normalizeWs(sb.toString)
              if (t.nonEmpty) blocks += ((t, childPath))
            }
          } else if (!blockTags(child.tag) && !hasBlockDescendant) {
            inlineRun += child // inline element: part of the surrounding text run
          } else {
            flushInline()
            walk(child, childPath)
          }
        case t: HText => inlineRun += t
      }
      flushInline()
    }

    def containsBlock(e: HElem): Boolean =
      blockTags(e.tag) || e.children.exists {
        case el: HElem => containsBlock(el)
        case _ => false
      }

    walk(root, "")

    val spans = ArrayBuffer.empty[Span]
    val out = new StringBuilder
    blocks.foreach { case (t, label) =>
      if (out.nonEmpty) out.append(blockSep)
      val start = out.length
      out.append(t)
      spans += Span(start, out.length, label)
    }
    Extraction(out.toString, spans.toSeq, dropped)
  }

  /** Collapse HTML whitespace runs to single spaces; <br> hard breaks (U+2028
    * markers) become '\n'. */
  private def normalizeWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var pendingSpace = false
    var pendingNl = false
    var started = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == HardBreak) { pendingNl = true; pendingSpace = false }
      else if (c.isWhitespace) { if (!pendingNl) pendingSpace = true }
      else {
        if (started) {
          if (pendingNl) sb.append('\n') else if (pendingSpace) sb.append(' ')
        }
        pendingSpace = false; pendingNl = false
        sb.append(c)
        started = true
      }
      i += 1
    }
    sb.toString
  }
}
