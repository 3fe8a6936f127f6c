package graft

import graft.extract.Extractor
import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1

/** A bound on the bytes `Extractor.extract` allocates per whole-PDF turn,
  * counted by the JVM for the calling thread, over a seeded corpus of
  * multi-page Flate PDFs after warm-up. A change that brings back a
  * per-stream inflater, a per-char token string or a boxed glyph buffer
  * fails here before it reaches a benchmark.
  *
  * The bound was measured on OpenJDK 17 with ParallelGC (the test JVM that
  * `build.sbt` forks). What a turn allocates depends on how far the JIT's
  * escape analysis gets, which varies with the JDK, so on another JDK
  * major version or collector the test is canceled, not failed.
  */
class AllocGuardSpec extends AnyFunSuite {
  test("whole-PDF turns stay under the allocation bound") {
    assume(AllocGuardSpec.measuredJvm,
      s"bound measured on JDK 17 with ParallelGC; this is JDK " +
        s"${System.getProperty("java.specification.version")} with " +
        AllocGuardSpec.collectors.mkString(", "))
    val perTurn = AllocGuardSpec.bytesPerTurn()
    assert(perTurn <= AllocGuardSpec.BoundBytesPerTurn,
      f"$perTurn%.0f bytes per turn, bound ${AllocGuardSpec.BoundBytesPerTurn}")
  }
}

object AllocGuardSpec {

  /** The midpoint of two measurements of [[bytesPerTurn]] (each the mean of
    * three runs, 4-core x86-64 host, OpenJDK 17.0.20, ParallelGC, the font
    * tables on the classpath): 874,448 bytes per turn before the font
    * tables, inflaters and lexer were reused and the glyph buffers unboxed,
    * 503,668 after. */
  val BoundBytesPerTurn: Long = 689058

  private def collectors: Seq[String] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq
  }

  /** The JVM the bound was measured on: JDK 17, ParallelGC ("PS Scavenge"). */
  def measuredJvm: Boolean =
    System.getProperty("java.specification.version") == "17" && collectors.contains("PS Scavenge")

  /** 24 PDFs of 1 to 8 pages, each page a Flate content stream of 30 lines
    * (`Tj`, and a `TJ` array every third line) in standard Type1 Helvetica,
    * as latin-1 payload strings. */
  lazy val corpus: IndexedSeq[String] = {
    val rnd = new scala.util.Random(16)
    val words = IndexedSeq("page", "text", "stream", "reading", "order", "glyph", "run", "line",
      "font", "width", "spark", "turn", "table", "column", "span", "metric", "the", "of", "a", "and")
    def line(): String = Seq.fill(4 + rnd.nextInt(9))(words(rnd.nextInt(words.length))).mkString(" ")
    def content(): Array[Byte] = {
      val sb = new StringBuilder("BT\n/F1 10 Tf\n1 0 0 1 72 720 Tm\n")
      (0 until 30).foreach { i =>
        if (i > 0) sb.append("0 -14 Td\n")
        val l = line()
        if (i % 3 == 2) sb.append(l.split(' ').mkString("[(", ") -250 (", ")] TJ\n"))
        else sb.append('(').append(l).append(") Tj\n")
      }
      sb.append("ET\n")
      deflate(sb.toString.getBytes(ISO_8859_1))
    }
    (0 until 24).map { d =>
      val pages = 1 + d % 8
      val kids = (0 until pages).map(p => s"${4 + 2 * p} 0 R").mkString(" ")
      val objects: Seq[PdfWriter.Body] = Seq[PdfWriter.Body](
        "<< /Type /Catalog /Pages 2 0 R >>",
        s"<< /Type /Pages /Kids [$kids] /Count $pages >>",
        "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /Encoding /WinAnsiEncoding >>") ++
        (0 until pages).flatMap { p =>
          Seq[PdfWriter.Body](
            s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
              s"/Resources << /Font << /F1 3 0 R >> >> /Contents ${5 + 2 * p} 0 R >>",
            PdfWriter.stream("/Filter /FlateDecode", content()))
        }
      new String(PdfWriter(objects), ISO_8859_1)
    }
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater(6)
    d.setInput(raw)
    d.finish()
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  /** Bytes allocated per turn by `Extractor.extract` on this thread: the
    * least of five passes over the corpus, after twenty warm-up passes. */
  def bytesPerTurn(): Double = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val docs = corpus
    var sink = 0L
    def pass(): Long = {
      val before = mx.getCurrentThreadAllocatedBytes
      docs.foreach(p => sink += Extractor.extract(p).text.length)
      mx.getCurrentThreadAllocatedBytes - before
    }
    (0 until 20).foreach(_ => pass())
    val least = (0 until 5).map(_ => pass()).min
    require(sink > 0)
    least.toDouble / docs.length
  }
}
