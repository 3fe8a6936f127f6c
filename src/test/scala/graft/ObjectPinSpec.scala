package graft

import graft.pdf.{CidCMap, PObj, PdfFile, ToUnicodeCMap}
import graft.pdf.PObj._
import graft.testgen.{Jbig2Synth, JpxSynth}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import scala.util.control.NonFatal

/** Output pins on the object parser and the CMap reader.
  *
  * Object pin: one MD5 per in-repo PDF over a canonical rendering of
  * `PdfFile.fetch(n)` for every `n` below the trailer's `/Size`, plus the
  * trailer (strings as hex, dict keys sorted, streams as their dict plus
  * their raw bytes). The documents are the `PdfWriterSpec`,
  * `ContentStreamPinSpec`, `CompositeFontSpec`, `DecryptSpec`,
  * `MetadataSpec`, `XrefStreamSpec` and `XrefTableSpec` files, the q61
  * JBIG2 and JPX documents, and `PdfFuzzSpec`'s seeded mutations of its synthetic
  * documents, replayed with the same seeds. The digests live in
  * `src/test/resources/object-pins.txt`, except for 58 fuzz mutations whose
  * digest moved only because `ContentLexer` tokenizes them as the reference
  * does (`object-pins-lexer.txt`, before and after; the rules are pinned apart
  * in the "lexer difference" tests) and 8 whose digest moved only because a
  * dict key right before `>>` now ends the dict (`object-pins-dict.txt`,
  * before and after; pinned apart in the "dict difference" test).
  *
  * CMap pin: `CidCMap.parse` and `ToUnicodeCMap.parse` over
  * `CompositeFontSpec`'s CMap streams and over every `/ToUnicode` and
  * embedded `/Encoding` stream of the documents above (fuzz mutations
  * excepted).
  */
class ObjectPinSpec extends AnyFunSuite {

  import ObjectPinSpec._

  private def pinFile(name: String): Map[String, Seq[String]] =
    scala.io.Source.fromResource(name).getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val w = l.split(' ')
        val digests = w.reverse.takeWhile(_.matches("[0-9a-f]{32}")).reverse
        w.dropRight(digests.length).mkString(" ") -> digests.toSeq
      }.toMap

  private lazy val unchanged = pinFile("object-pins.txt")
  private lazy val lexerMoved = pinFile("object-pins-lexer.txt")
  private lazy val dictMoved = pinFile("object-pins-dict.txt")
  private lazy val digests = documents.map { case (name, b) => name -> md5(dump(b)) }

  test("object pin: every fetched object of every in-repo PDF") {
    val moved = digests.collect { case (n, d) if unchanged.contains(n) && unchanged(n) != Seq(d) =>
      s"$n $d (pinned ${unchanged(n).head})"
    }
    val unpinned = digests.map(_._1)
      .filterNot(n => unchanged.contains(n) || lexerMoved.contains(n) || dictMoved.contains(n))
    val gone = (unchanged.keySet ++ lexerMoved.keySet ++ dictMoved.keySet) -- digests.map(_._1)
    assert(moved.isEmpty && unpinned.isEmpty && gone.isEmpty,
      (moved ++ unpinned.map(_ + " not pinned") ++ gone.map(_ + " missing")).mkString("\n"))
  }

  /** Documents of `pins` whose digest is not the pinned "after". */
  private def movedFrom(pins: Map[String, Seq[String]]): Seq[String] =
    digests.collect { case (n, d) if pins.contains(n) && pins(n)(1) != d =>
      s"$n $d (pinned ${pins(n)(1)}, before ${pins(n).head})"
    }

  test("object pin: the fuzz mutations ContentLexer tokenizes differently") {
    // before → after per document; the rules are pinned apart below
    val moved = movedFrom(lexerMoved)
    assert(lexerMoved.size == 58 && moved.isEmpty, moved.mkString("\n"))
  }

  test("object pin: the fuzz mutations with a dict key right before >>") {
    // before → after per document; the rule is pinned apart below
    val moved = movedFrom(dictMoved)
    assert(dictMoved.size == 8 && moved.isEmpty, moved.mkString("\n"))
  }

  private def parse(s: String): String =
    render(new graft.pdf.ObjParser(s.getBytes(ISO_8859_1), 0).parseValue())

  test("lexer difference: an odd-length hex string drops its last digit (was padded with 0)") {
    assert(parse("<abc>") == "<ab>") // before: <abc0>
  }

  test("lexer difference: a run of regular characters is one token (was one null per byte)") {
    assert(parse("[1 xyz 2 E3 0 R]") == "[1.0 null 2.0 null 0.0 null]")
    // before: [1.0 null null null 2.0 null 3 0 R]
  }

  test("lexer difference: a stray >> is one token (was two)") {
    assert(parse("[1 >> 2]") == "[1.0 null 2.0]") // before: [1.0 null null 2.0]
  }

  test("lexer difference: Adobe-tolerant numbers") {
    // `--5` is -5 (before: 0.0 then -5.0), `1.2.3` is 1.2 then .3 (before:
    // 0.0), `1e2` is 100 (before: 1.0, null, 2.0), `5-3` is 53 (before: 5.0 then -3.0)
    assert(parse("[--5 1.2.3 1e2 5-3]") == "[-5.0 1.2 0.3 100.0 53.0]")
  }

  test("dict difference: a key right before >> ends the dict, key null (was: the dict swallowed its stream)") {
    val obj = "<< /Length 5 /Foo >> stream\nhello\nendstream"
    assert(parse(obj) == "<</Foo null /Length 5.0>> stream<68656c6c6f>")
    // before: <</Foo null /Length 5.0>>, and the dict read on past `stream`
    val f = new PdfFile(s"%PDF-1.4\n1 0 obj\n$obj\nendobj\ntrailer\n<< /Size 2 >>\n%%EOF\n"
      .getBytes(ISO_8859_1))
    assert(render(f.fetch(1)) == "<</Foo null /Length 5.0>> stream<68656c6c6f>")
  }

  test("CMap pin: both views over every CMap stream") {
    val got = cmapStreams.map { case (name, b) => s"$name ${md5(cmapDump(b))}" }.mkString("\n")
    assert(md5(got) == "b029b93d47c1f3e8f4acfff0ebfb0050", s"CMap digests:\n$got")
  }
}

object ObjectPinSpec {

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(ISO_8859_1))
      .map(x => f"${x & 0xff}%02x").mkString

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** Canonical text of an object: strings as hex, dict keys sorted, streams
    * as their dict plus their raw bytes. */
  def render(o: PObj): String = o match {
    case PNull => "null"
    case PBool(b) => b.toString
    case PNum(v) => java.lang.Double.toString(v)
    case PStr(b) => s"<${hex(b)}>"
    case PName(n) => "/" + n.flatMap(c => if (c > ' ' && c < 0x7f && c != '#') c.toString else f"#${c.toInt}%02x")
    case PArr(items) => items.map(render).mkString("[", " ", "]")
    case PDict(e) => e.toSeq.sortBy(_._1).map { case (k, v) => render(PName(k)) + " " + render(v) }
      .mkString("<<", " ", ">>")
    case PStream(d, raw) => render(d) + s" stream<${hex(raw)}>"
    case PRef(n, g) => s"$n $g R"
  }

  private def attempt(f: => String): String =
    try f catch { case NonFatal(e) => s"error ${e.getClass.getName}" }

  /** Every object below /Size (capped, for mutated sizes) and the trailer. */
  def dump(bytes: Array[Byte]): String = attempt {
    val f = new PdfFile(bytes)
    val size = f.trailer.get("Size") match {
      case Some(PNum(v)) => math.max(0, math.min(v, 1 << 16)).toInt
      case _ => 0
    }
    ((0 until size).map(n => s"$n ${attempt(render(f.fetch(n)))}") :+
      s"trailer ${render(f.trailer)}").mkString("\n")
  }

  /** Both CMap views of one stream. */
  def cmapDump(b: Array[Byte]): String = {
    val cid = attempt {
      val p = CidCMap.parse(b)
      s"wmode=${p.wmode} codeBytes=${p.codeBytes} identity=${p.identityBase} " +
        p.toCid.toSeq.sorted.map { case (c, v) => s"$c:$v" }.mkString(",")
    }
    val uni = attempt(ToUnicodeCMap.parse(b).toSeq.sortBy(_._1)
      .map { case (c, s) => s"$c:" + s.map(ch => f"${ch.toInt}%04x").mkString }.mkString(","))
    s"cid $cid\ntounicode $uni"
  }

  /** `PdfFuzzSpec`'s point mutations and truncations of `base`, drawn in the
    * same order from the same seed. */
  private def mutants(tag: String, base: Array[Byte], seed: Long, count: Int, maxPoints: Int,
      truncations: Seq[Int]): Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(seed)
    val points = (0 until count).map { k =>
      val b = base.clone()
      (0 until 1 + rnd.nextInt(maxPoints)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      s"fuzz/$tag/mutation $k" -> b
    }
    (s"fuzz/$tag/clean" -> base) +: (points ++
      truncations.map(len => s"fuzz/$tag/truncate $len" -> java.util.Arrays.copyOf(base, len)))
  }

  private def synthetic: Seq[(String, Array[Byte])] =
    graft.testgen.PdfWriterSpec.pinned.map { case (n, b, _) => s"writer/$n" -> b } ++
      ContentStreamPinSpec.pdfs.map { case (n, b) => s"content/$n" -> b } ++
      Seq(
        "composite/identity" -> CompositeFontSpec.pdfBytes,
        "composite/cjk" -> CompositeFontSpec.cjkPdfBytes,
        "decrypt/rc4" -> graft.pdf.DecryptSpec.rc4Doc._2,
        "decrypt/aes" -> graft.pdf.DecryptSpec.aesDoc._2,
        "decrypt/unsupported" -> graft.pdf.DecryptSpec.unsupportedPdf,
        "metadata/info" -> graft.pdf.MetadataSpec.infoDoc._2,
        "metadata/encrypt-metadata-false" -> graft.pdf.MetadataSpec.encryptMetadataFalseDoc._3,
        "xref/stream" -> XrefStreamSpec.xrefStreamPdf,
        "xref/objstm-cycle" -> XrefStreamSpec.objStmCyclePdf,
        "xref/table-update" -> XrefTableSpec.updatedPdf,
        // q61's synthetic image documents
        "jbig2/generic" -> Jbig2Synth.pdfWithJbig2(64, 48, seed = 5),
        "jbig2/symbol" -> Jbig2Synth.pdfWithJbig2(40, 24, seed = 0, symbolCoded = true),
        "jbig2/globals" -> Jbig2Synth.pdfWithJbig2(40, 24, seed = 0, globalsSplit = true),
        "jbig2/mmr" -> Jbig2Synth.pdfWithJbig2(64, 48, seed = 5, mmr = true),
        "jbig2/huffman" -> Jbig2Synth.pdfWithJbig2(40, 24, seed = 0, huffman = true),
        "jbig2/halftone" -> Jbig2Synth.pdfWithJbig2(48, 32, seed = 0, halftone = true),
        "jbig2/halftone-mmr" -> Jbig2Synth.pdfWithJbig2(48, 32, seed = 0, halftoneMmr = true),
        "jbig2/huffman-refine" -> Jbig2Synth.pdfWithJbig2(40, 24, seed = 0, huffRefine = true),
        "jbig2/refine" -> Jbig2Synth.pdfWithJbig2(40, 24, seed = 5, refine = true),
        "jpx/gray" -> JpxSynth.pdfWithJpx(64, 48, seed = 2),
        "jpx/rgb" -> JpxSynth.pdfWithJpx(64, 48, seed = 2, rgb = true),
        "jpx/lossy" -> JpxSynth.pdfWithJpx(64, 48, seed = 2, lossy = true),
        "jpx/jp2" -> JpxSynth.pdfWithJpx(64, 48, seed = 2, jp2 = true),
        "jpx/420" -> JpxSynth.pdfWithJpx(64, 48, seed = 2, sub420 = true),
        "jpx/precincts" -> JpxSynth.pdfWithJpx(64, 48, seed = 2, precincts = true),
        "jpx/styles" -> JpxSynth.pdfWithJpx(64, 48, seed = 2, styles = true),
        "jpx/roi" -> JpxSynth.pdfWithJpx(64, 48, seed = 2, roi = true),
        "jpx/offsets" -> JpxSynth.pdfWithJpx(64, 48, seed = 2, offsets = true),
        "jpx/tiles" -> JpxSynth.pdfWithJpx(64, 48, seed = 2, tiles = true))

  lazy val documents: Seq[(String, Array[Byte])] = synthetic ++ {
    val color = PdfFuzzSpec.colorMetadataBase
    val image = PdfFuzzSpec.imageBase
    val catalog = PdfFuzzSpec.catalogBase
    val jbig2 = Jbig2Synth.pdfWithJbig2(48, 32, seed = 21)
    mutants("colormeta", color, 7, 80, 6, Seq(30, color.length / 2, color.length - 10)) ++
      mutants("image", image, 13, 80, 6, Seq(30, image.length / 2, image.length - 10)) ++
      mutants("catalog", catalog, 37, 120, 8,
        Seq(40, catalog.length / 3, catalog.length / 2, catalog.length - 10)) ++
      mutants("jbig2", jbig2, 29, 80, 8, Seq(40, jbig2.length / 2, jbig2.length - 8))
  }

  /** `CompositeFontSpec`'s CMap streams (with the variants its tests
    * derive), then every /ToUnicode and embedded /Encoding stream of the
    * unmutated documents. */
  lazy val cmapStreams: Seq[(String, Array[Byte])] = {
    import CompositeFontSpec._
    val own = Seq(
      "composite/toUnicode" -> toUnicodeCMap,
      "composite/cid" -> cidCMapStream,
      "composite/cid-vertical" -> cidCMapStream
        .replace("begincmap", "begincmap\n/WMode 1 def\n/Identity-H usecmap"),
      "composite/cid-broken" -> cidCMapStream.replace(
        "1 begincidchar\n<0020> 1\nendcidchar",
        "3 begincidchar\n<0020> 1\n<0021> 99999999999999999999\n<00220022FFAA99> 7\nendcidchar"),
      "composite/cjkToUnicode" -> cjkToUnicode,
      "content/hebrew" -> ContentStreamPinSpec.hebrewCMap
    ).map { case (n, s) => n -> s.getBytes(ISO_8859_1) }
    val embedded = synthetic.flatMap { case (name, b) =>
      val f = new PdfFile(b)
      val size = f.trailer.get("Size").collect { case PNum(v) => v.toInt }.getOrElse(0)
      (0 until size).flatMap { n =>
        f.fetch(n) match {
          case d: PDict => Seq("ToUnicode", "Encoding").flatMap { key =>
            f.dictGet(d, key).collect { case s: PStream => s"$name/$n/$key" -> f.decodeStream(s) }
          }
          case _ => Nil
        }
      }
    }
    own ++ embedded
  }
}
