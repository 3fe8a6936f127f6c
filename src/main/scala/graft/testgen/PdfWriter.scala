package graft.testgen

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

import scala.language.implicitConversions

/** The one writer behind every synthetic PDF (FIXTURES.md). Objects are
  * numbered 1..n in the order given, object 1 is the catalog, and the file
  * ends in `startxref 0`, so the engine always indexes it through the
  * recovery scan (`PdfFile.recoverScan`):
  * {{{
  * %PDF-1.4
  * 1 0 obj
  * <body 1>
  * endobj
  * ...
  * trailer
  * << /Size n+1 /Root 1 0 R<trailer> >>
  * startxref
  * 0
  * %%EOF
  * }}}
  * A fixture with real offsets, an xref stream or an object stream is written
  * by hand (XrefStreamSpec).
  */
object PdfWriter {

  /** One object body: dictionary or array text (converted implicitly from a
    * `String`, ISO-8859-1), or a stream built by [[stream]]. */
  final class Body private[PdfWriter] (private[PdfWriter] val bytes: Array[Byte])
  object Body {
    implicit def text(s: String): Body = new Body(s.getBytes(ISO_8859_1))
  }

  /** The whole file; `trailer` is appended verbatim to the trailer dict
    * after `/Root 1 0 R` (e.g. `" /Info 4 0 R"`). */
  def apply(objects: Seq[Body], trailer: String = ""): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(ISO_8859_1))
    w("%PDF-1.4\n")
    objects.zipWithIndex.foreach { case (o, i) =>
      w(s"${i + 1} 0 obj\n")
      out.write(o.bytes)
      w("\nendobj\n")
    }
    w(s"trailer\n<< /Size ${objects.length + 1} /Root 1 0 R$trailer >>\nstartxref\n0\n%%EOF\n")
    out.toByteArray
  }

  /** A stream object body with `/Length` first, then `entries`; `data` is
    * copied as raw bytes, never through a `String`. */
  def stream(entries: String, data: Array[Byte]): Body = {
    val out = new ByteArrayOutputStream()
    val dict = s"<< /Length ${data.length}${if (entries.nonEmpty) " " + entries else ""} >>\nstream\n"
    out.write(dict.getBytes(ISO_8859_1))
    out.write(data)
    out.write("\nendstream".getBytes(ISO_8859_1))
    new Body(out.toByteArray)
  }
}
