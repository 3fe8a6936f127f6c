package graft

import graft.pdf.PdfDocument

/** Scratch dump: the q65/q66 oracle VALUES rows for the corpus + synthetic
  * outline docs (run once per fixture refresh; output pasted into the q65/q66
  * oracles in graft.entry.PdfQueries). */
object DumpOutline {
  def main(args: Array[String]): Unit = {
    val inputs: Seq[(String, Array[Byte])] = Seq(
      "/root/reference/src/test/resources/input/1301.4293.pdf",
      "/root/reference/src/test/resources/input/C04-1204.pdf",
      "/root/reference/src/test/resources/input/test24.pdf",
      "/root/reference/src/test/resources/input/test25.pdf",
      "/root/reference/test-papers/2839.pdf").map { p =>
      val name = p.split('/').last.stripSuffix(".pdf")
      name -> java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    } :+ ("outline_url" -> graft.testgen.Synth.pdfWithCatalogExtra(2,
      "/Outlines 5 0 R", Seq(
        "<< /First 6 0 R /Last 7 0 R >>",
        "<< /Title (Site) /F 3 /C [0 0.5 1] /A << /S /URI /URI (https://example.org/p) >> /Next 7 0 R >>",
        "<< /Title (Here) /Dest [4 0 R /XYZ 10 20 null] >>")))
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    println("-- q65_pdf_outline --")
    inputs.foreach { case (paper, bytes) =>
      val doc = PdfDocument.open(bytes)
      doc.outline match {
        case Some(items) =>
          items.flatMap(_.flatten(0)).zipWithIndex.foreach { case ((depth, it), ord) =>
            println(s" (${q(paper)}, $ord, $depth, ${q(it.title)}, " +
              s"${q(it.dest.getOrElse(""))}, ${q(it.url.getOrElse(""))}, " +
              s"${q(s"${it.colorR},${it.colorG},${it.colorB}")}, " +
              s"${q(it.count.map(PdfDocument.jsNum).getOrElse(""))}, " +
              s"${it.bold}, ${it.italic}, ${it.destPage.getOrElse(-1)}),")
          }
        case None =>
          println(s" (${q(paper)}, -1, -1, '', '', '', '', '', false, false, -1),")
      }
    }
    println("-- q66_named_dests --")
    inputs.filterNot(_._1 == "outline_url").foreach { case (paper, bytes) =>
      val doc = PdfDocument.open(bytes)
      val canon = doc.destinations.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=${PdfDocument.renderDest(v)}" }
        .mkString("\n")
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      println(s" (${q(paper)}, ${doc.destinations.size}, '$md5'),")
    }
  }
}
