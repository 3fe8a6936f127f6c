package graft.core

/** The one character-reference decoder of the markup dialects: `&#NN;`,
  * `&#xNN;` and the names in a given table. An unknown, malformed or
  * unterminated reference stays literal. */
object Entities {

  /** The five names XML predefines: all an SVG payload may use, so `&nbsp;`
    * in SVG stays literal. */
  val Xml: Map[String, String] = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'")

  /** XML's five plus the HTML names common in web text. */
  val Html: Map[String, String] = Xml ++ Map(
    "nbsp" -> " ", "copy" -> "©", "reg" -> "®", "trade" -> "™",
    "mdash" -> "—", "ndash" -> "–", "hellip" -> "…",
    "lsquo" -> "‘", "rsquo" -> "’", "ldquo" -> "“", "rdquo" -> "”")

  def decode(s: String, named: Map[String, String]): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i)
        if (semi < 0 || semi - i > 10) { sb.append(c); i += 1 }
        else {
          val ent = s.substring(i + 1, semi)
          val dec: Option[String] =
            if (ent.startsWith("#x") || ent.startsWith("#X"))
              try Some(new String(Character.toChars(Integer.parseInt(ent.substring(2), 16))))
              catch { case _: Exception => None }
            else if (ent.startsWith("#"))
              try Some(new String(Character.toChars(Integer.parseInt(ent.substring(1)))))
              catch { case _: Exception => None }
            else named.get(ent)
          dec match {
            case Some(d) => sb.append(d); i = semi + 1
            case None => sb.append(c); i += 1
          }
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
