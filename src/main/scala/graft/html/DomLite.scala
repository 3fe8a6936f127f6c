package graft.html

import graft.core.Entities

import scala.collection.mutable.ArrayBuffer

/** Minimal HTML DOM for boilerplate analysis — same spirit as the reference's
  * domstubs minimal DOM (node/domstubs.js:73-138): only what extraction needs.
  * Tolerant tag-soup parsing: unclosed tags, void elements, raw-text elements
  * (script/style), comments, doctype, entities.
  */
sealed trait HNode
final case class HText(text: String) extends HNode
final class HElem(
    val tag: String,
    val attrs: Map[String, String],
    val children: ArrayBuffer[HNode] = ArrayBuffer.empty)
  extends HNode {
  def attr(name: String): String = attrs.getOrElse(name, "")
}

object DomLite {
  private val voidTags = Set("br", "img", "hr", "meta", "link", "input", "area",
    "base", "col", "embed", "source", "track", "wbr")
  private val rawTextTags = Set("script", "style")
  // auto-close: a new <p>/<li>/... closes an open one of the same tag
  private val autoClose = Set("p", "li", "td", "th", "tr", "option")

  def parse(html: String): HElem = {
    val root = new HElem("#root", Map.empty)
    var stack = List(root)
    var i = 0
    val n = html.length

    def top: HElem = stack.head
    def textUntil(end: Int): Unit = {
      if (end > i) {
        val t = Entities.decode(html.substring(i, end), Entities.Html)
        if (t.nonEmpty) top.children += HText(t)
      }
    }

    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { textUntil(n); i = n }
      else {
        textUntil(lt)
        i = lt
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (html.startsWith("<!", i) || html.startsWith("<?", i)) {
          val e = html.indexOf('>', i)
          i = if (e < 0) n else e + 1
        } else if (html.startsWith("</", i)) {
          val e = html.indexOf('>', i)
          val name = html.substring(i + 2, if (e < 0) n else e).trim.toLowerCase
          // pop to the matching open tag if present
          if (stack.exists { case el: HElem => el.tag == name; case _ => false })
            while (stack.length > 1 && top.tag != name) stack = stack.tail
          if (stack.length > 1 && top.tag == name) stack = stack.tail
          i = if (e < 0) n else e + 1
        } else {
          // open tag
          val (tagName, attrs, selfClosed, after) = parseTag(html, i)
          if (tagName.isEmpty) { top.children += HText("<"); i += 1 }
          else {
            val tag = tagName.toLowerCase
            if (autoClose(tag) && top.tag == tag) stack = stack.tail
            val el = new HElem(tag, attrs)
            top.children += el
            i = after
            if (rawTextTags(tag) && !selfClosed) {
              val closeTag = s"</$tag"
              // case-insensitive scan without copying the whole document
              var e = -1
              var p = i
              while (e < 0 && p + closeTag.length <= n) {
                if (html.charAt(p) == '<' &&
                    html.regionMatches(true, p, closeTag, 0, closeTag.length)) e = p
                p += 1
              }
              val end = if (e < 0) n else e
              if (end > i) el.children += HText(html.substring(i, end))
              i = if (e < 0) n else {
                val gt = html.indexOf('>', e)
                if (gt < 0) n else gt + 1
              }
            } else if (!selfClosed && !voidTags(tag)) stack = el :: stack
          }
        }
      }
    }
    root
  }

  /** Parse one open tag starting at `<`. Returns (name, attrs, selfClosed, posAfter). */
  private def parseTag(s: String, lt: Int): (String, Map[String, String], Boolean, Int) = {
    var i = lt + 1
    val n = s.length
    val nameStart = i
    while (i < n && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '-' || s.charAt(i) == ':')) i += 1
    val name = s.substring(nameStart, i)
    if (name.isEmpty) return ("", Map.empty, false, lt + 1)
    val attrs = Map.newBuilder[String, String]
    var selfClosed = false
    var done = false
    while (!done && i < n) {
      while (i < n && Character.isWhitespace(s.charAt(i))) i += 1
      if (i >= n) done = true
      else if (s.charAt(i) == '>') { i += 1; done = true }
      else if (s.charAt(i) == '/') {
        selfClosed = true; i += 1
      } else {
        val aStart = i
        while (i < n && s.charAt(i) != '=' && s.charAt(i) != '>' && s.charAt(i) != '/' &&
               !Character.isWhitespace(s.charAt(i))) i += 1
        val aName = s.substring(aStart, i).toLowerCase
        var j = i
        while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
        if (j < n && s.charAt(j) == '=') {
          j += 1
          while (j < n && Character.isWhitespace(s.charAt(j))) j += 1
          if (j < n && (s.charAt(j) == '"' || s.charAt(j) == '\'')) {
            val q = s.charAt(j)
            val e = s.indexOf(q, j + 1)
            if (e < 0) { attrs += aName -> s.substring(j + 1); i = n }
            else { attrs += aName -> Entities.decode(s.substring(j + 1, e), Entities.Html); i = e + 1 }
          } else {
            val vStart = j
            while (j < n && !Character.isWhitespace(s.charAt(j)) && s.charAt(j) != '>') j += 1
            attrs += aName -> s.substring(vStart, j)
            i = j
          }
        } else if (aName.nonEmpty) { attrs += aName -> ""; i = j }
        else i = j + 1
      }
    }
    (name, attrs.result(), selfClosed, i)
  }
}
