package graft

import graft.JsonMini._
import graft.pdf.{OutlineItem, PdfDocument}
import graft.testgen.{PdfWriter, Synth}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** getOutline / getDestinations parity against the reference's AUTHENTIC
  * output: src/test/resources/reference-*-outline.json was produced by the
  * vendored engine itself under node (/tmp/getoutline.js — regeneration
  * recipe in FIXTURES.md): the full getOutline() tree (title, dest, url,
  * color, count, bold, italic, nesting), the getDestinations() map with
  * refs rendered `ref:num_gen`, and getPageIndex() for every destination
  * page ref. Three corpus papers carry REAL outline trees (1301 flat,
  * test25/2839 nested with /Count) and three destination-naming flavors
  * (name tree, UTF-16BE-keyed tree, legacy arrays). */
class OutlineParitySpec extends AnyFunSuite {

  private val papers = Seq(
    "1301.4293" -> "/root/reference/src/test/resources/input/1301.4293.pdf",
    "C04-1204" -> "/root/reference/src/test/resources/input/C04-1204.pdf",
    "test24" -> "/root/reference/src/test/resources/input/test24.pdf",
    "test25" -> "/root/reference/src/test/resources/input/test25.pdf",
    "2839" -> "/root/reference/test-papers/2839.pdf")

  private def jsNum(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** Render a fixture dest value with the same canonical scheme as
    * PdfDocument.renderDest (harness elements are already ref:/name:-tagged). */
  private def renderJ(j: J): String = j match {
    case JStr(s) => s
    case JArr(items) => items.map {
      case JStr(s) => s
      case JNum(v) => jsNum(v)
      case JNull => "null"
      case JBool(v) => v.toString
      case other => fail(s"unexpected dest element $other")
    }.mkString(",")
    case other => fail(s"unexpected dest shape $other")
  }

  private def checkItems(paper: String, got: Vector[OutlineItem], exp: Vector[J],
      destPageOf: String => Option[Int]): Unit = {
    assert(got.length == exp.length, s"$paper item count")
    got.zip(exp).foreach { case (g, ej) =>
      val e = ej.asInstanceOf[JObj]
      assert(g.title == e("title").asInstanceOf[JStr].v, s"$paper title ${g.title}")
      (e("dest"), g.dest) match {
        case (JNull, None) => ()
        case (d, Some(s)) => assert(renderJ(d) == s, s"$paper dest of ${g.title}")
        case (d, None) => fail(s"$paper ${g.title}: expected dest $d, got none")
      }
      (e("url"), g.url) match {
        case (JNull, None) => ()
        case (JStr(u), Some(s)) => assert(u == s, s"$paper url of ${g.title}")
        case (u, v) => fail(s"$paper ${g.title}: url $u vs $v")
      }
      val JArr(c) = e("color"): @unchecked
      assert(c.map(_.asInstanceOf[JNum].v.toInt) == Vector(g.colorR, g.colorG, g.colorB),
        s"$paper color of ${g.title}")
      (e("count"), g.count) match {
        case (JNull, None) => ()
        case (JNum(n), Some(v)) => assert(n == v, s"$paper count of ${g.title}")
        case (n, v) => fail(s"$paper ${g.title}: count $n vs $v")
      }
      assert(g.bold == e("bold").asInstanceOf[JBool].v, s"$paper bold of ${g.title}")
      assert(g.italic == e("italic").asInstanceOf[JBool].v, s"$paper italic of ${g.title}")
      // destPage: the fixture's getPageIndex over the dest's page ref
      g.dest.foreach { d =>
        val expPage = destPageOf(d)
        assert(g.destPage == expPage, s"$paper destPage of ${g.title}: ${g.destPage} vs $expPage")
      }
      checkItems(paper, g.children, e("items").asInstanceOf[JArr].items,
        destPageOf)
    }
  }

  test("all five reference PDFs: outline + destinations + dest page parity") {
    var outlined = 0
    papers.foreach { case (paper, path) =>
      val pp = Paths.get(path)
      if (!Files.exists(pp)) cancel(s"reference PDF not present for $paper")
      val fx = parse(new String(Files.readAllBytes(
        Paths.get(s"src/test/resources/reference-$paper-outline.json")),
        StandardCharsets.UTF_8)).asInstanceOf[JObj]
      val doc = PdfDocument.open(Files.readAllBytes(pp))

      // destinations map: same size, same rendered value per key
      val expDests = fx("dests").asInstanceOf[JObj].fields
      assert(doc.destinations.size == expDests.length, s"$paper dest count")
      expDests.foreach { case (k, v) =>
        val got = doc.destinations.get(k)
        assert(got.isDefined, s"$paper missing dest $k")
        assert(PdfDocument.renderDest(got.get) == renderJ(v), s"$paper dest $k")
      }

      // page-ref resolution: the fixture's getPageIndex ground truth
      val refPages: Map[String, Option[Int]] =
        fx("refPages").asInstanceOf[JObj].fields.map {
          case (k, JNum(v)) => k -> Some(v.toInt)
          case (k, _) => k -> None
        }.toMap
      refPages.foreach { case (refKey, exp) =>
        val Array(num, gen) = refKey.split('_').map(_.toInt)
        assert(doc.pageRefIndex.get((num, gen)) == exp, s"$paper pageRef $refKey")
      }
      def destPageOf(destName: String): Option[Int] =
        expDests.find(_._1 == destName).map(_._2) match {
          case Some(JArr(items)) => items.headOption match {
            case Some(JStr(s)) if s.startsWith("ref:") =>
              refPages.getOrElse(s.stripPrefix("ref:"), None)
            case _ => None
          }
          case _ => None
        }

      (fx("outline"), doc.outline) match {
        case (JNull, None) => ()
        case (JArr(items), Some(got)) =>
          outlined += 1
          checkItems(paper, got, items, destPageOf)
        case (e, g) => fail(s"$paper outline presence: $e vs ${g.map(_.length)}")
      }
    }
    assert(outlined == 3, "three corpus papers carry outline trees")
  }

  // ── synthetic rule coverage the corpus can't reach ──

  private def synth(catalogExtra: String, extraObjs: Seq[PdfWriter.Body], nPages: Int = 3) =
    PdfDocument.open(Synth.pdfWithCatalogExtra(nPages, catalogExtra, extraObjs))

  test("URL actions pass the scheme allowlist; invalid schemes drop") {
    val doc = synth("/Outlines 6 0 R", Seq(
      "<< /First 7 0 R /Last 8 0 R >>",
      "<< /Title (Web) /A << /S /URI /URI (https://example.org/x) >> /Next 8 0 R >>",
      "<< /Title (Odd) /A << /S /URI /URI (javascript:alert(1)) >> >>"))
    val items = doc.outline.get
    assert(items.map(_.title) == Vector("Web", "Odd"))
    assert(items(0).url.contains("https://example.org/x") && items(0).dest.isEmpty)
    assert(items(1).url.isEmpty && items(1).dest.isEmpty)
  }

  test("flags, color truncation+clamp, explicit array dest resolves its page") {
    val doc = synth("/Outlines 6 0 R", Seq(
      "<< /First 7 0 R /Last 7 0 R >>",
      "<< /Title (Deep) /F 3 /C [0.5 1.2 -0.1] /Count -2 /Dest [4 0 R /XYZ 10 20 null] >>"))
    val it = doc.outline.get.head
    assert(it.bold && it.italic)
    assert((it.colorR, it.colorG, it.colorB) == ((127, 255, 0)))
    assert(it.count.contains(-2.0))
    assert(it.dest.contains("ref:4_0,name:XYZ,10,20,null"))
    assert(it.destPage.contains(1)) // 4 0 obj is page 2 of the skeleton
  }

  test("First/Next cycle is guarded; items emit once") {
    val doc = synth("/Outlines 6 0 R", Seq(
      "<< /First 7 0 R /Last 8 0 R >>",
      "<< /Title (A) /Next 8 0 R >>",
      "<< /Title (B) /Next 7 0 R >>")) // B loops back to A
    assert(doc.outline.get.map(_.title) == Vector("A", "B"))
  }

  test("a missing /Title abandons the whole surface, reference-style") {
    val doc = synth("/Outlines 6 0 R", Seq(
      "<< /First 7 0 R /Last 8 0 R >>",
      "<< /Title (Ok) /Next 8 0 R >>",
      "<< /Dest (nowhere) >>"))
    assert(doc.outline.isEmpty)
  }

  test("legacy catalog /Dests dictionary + named-dest page resolution") {
    val doc = synth("/Outlines 6 0 R /Dests << /here [5 0 R /FitH 100] >>", Seq(
      "<< /First 7 0 R /Last 7 0 R >>",
      "<< /Title (Jump) /Dest /here >>"))
    assert(doc.destinations.keySet == Set("here"))
    assert(PdfDocument.renderDest(doc.destinations("here")) == "ref:5_0,name:FitH,100")
    val it = doc.outline.get.head
    assert(it.dest.contains("here")) // the raw name converts to its string
    assert(it.destPage.contains(2))
  }

  test("dictionary-valued named dests take /D; raw ref dest stays a ref") {
    val doc = synth(
      "/Outlines 6 0 R /Names << /Dests << /Names [(d1) << /D [3 0 R /Fit] >>] >> >>",
      Seq(
        "<< /First 7 0 R /Last 7 0 R >>",
        "<< /Title (R) /Dest 9 0 R >>",
        "[4 0 R /Fit]"))
    assert(PdfDocument.renderDest(doc.destinations("d1")) == "ref:3_0,name:Fit")
    val it = doc.outline.get.head
    assert(it.dest.contains("ref:9_0")) // getRaw keeps the indirection
  }
}
