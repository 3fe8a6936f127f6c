package graft

import graft.JsonMini._
import graft.pdf.{AnnotData, PdfDocument}
import graft.testgen.{PdfWriter, Synth}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** getAnnotations parity against the reference's AUTHENTIC output:
  * src/test/resources/reference-*-annots.json was produced by the vendored
  * engine itself under node (/tmp/getannots.js — page.getAnnotations() on
  * every corpus page, refs in dests rendered `ref:num_gen`). The corpus
  * carries 265 Link annotations across three dest/url flavors (arXiv URI
  * actions, named dests with appearances + flags, GoTo dests); subtypes the
  * corpus lacks (Text icon rects, Widget field names incl. the backtick
  * rule, Popup parent payloads, FileAttachment filenames) gate on
  * synthetic docs below. */
class AnnotationsParitySpec extends AnyFunSuite {

  private val papers = Seq(
    "1301.4293" -> "/root/reference/src/test/resources/input/1301.4293.pdf",
    "C04-1204" -> "/root/reference/src/test/resources/input/C04-1204.pdf",
    "test24" -> "/root/reference/src/test/resources/input/test24.pdf",
    "test25" -> "/root/reference/src/test/resources/input/test25.pdf",
    "2839" -> "/root/reference/test-papers/2839.pdf")

  private def jstr(j: J): Option[String] = j match {
    case JNull => None
    case JStr(s) => Some(s)
    case other => fail(s"expected string/null, got $other")
  }

  test("every corpus page: annotation records match getAnnotations field-for-field") {
    var total = 0
    papers.foreach { case (paper, path) =>
      val pp = Paths.get(path)
      if (!Files.exists(pp)) cancel(s"reference PDF not present for $paper")
      val fx = parse(new String(Files.readAllBytes(
        Paths.get(s"src/test/resources/reference-$paper-annots.json")),
        StandardCharsets.UTF_8)).asInstanceOf[JObj]
      val doc = PdfDocument.open(Files.readAllBytes(pp))
      fx("pages").asInstanceOf[JArr].items.foreach { pj =>
        val pObj = pj.asInstanceOf[JObj]
        val page = pObj("page").asInstanceOf[JNum].v.toInt
        val exp = pObj("annots").asInstanceOf[JArr].items.map(_.asInstanceOf[JObj])
        val got = doc.annotations(page - 1)
        assert(got.length == exp.length, s"$paper p$page count")
        got.zip(exp).foreach { case (g, e) =>
          total += 1
          val tag = s"$paper p$page ${g.id}"
          assert(g.id == e("id").asInstanceOf[JStr].v, s"$tag id")
          assert(g.subtype == e("subtype").asInstanceOf[JStr].v, s"$tag subtype")
          assert(g.annotationType.map(_.toDouble) == (e("annotationType") match {
            case JNull => None
            case JNum(v) => Some(v)
            case _ => fail()
          }), s"$tag type")
          val er = e("rect").asInstanceOf[JArr].items.map(_.asInstanceOf[JNum].v)
          g.rect.toSeq.zip(er).foreach { case (a, b) =>
            assert(math.abs(a - b) < 1e-9, s"$tag rect")
          }
          assert(g.flags == e("flags").asInstanceOf[JNum].v.toInt, s"$tag flags")
          assert(g.hasAppearance == e("hasAppearance").asInstanceOf[JBool].v, s"$tag ap")
          (e("color"), g.color) match {
            case (JNull, None) => ()
            case (JArr(cs), Some((r, gg, b))) =>
              assert(cs.map(_.asInstanceOf[JNum].v.toInt) == Vector(r, gg, b), s"$tag color")
            case (c, v) => fail(s"$tag color: $c vs $v")
          }
          assert(g.url == jstr(e("url")), s"$tag url")
          val expDest = e("dest") match {
            case JNull => None
            case d => Some(d match {
              case JStr(s) => s
              case JArr(items) => items.map {
                case JStr(s) => s
                case JNum(v) => if (v.isWhole) v.toLong.toString else v.toString
                case JNull => "null"
                case other => fail(s"$tag dest elem $other")
              }.mkString(",")
              case other => fail(s"$tag dest $other")
            })
          }
          assert(g.dest == expDest, s"$tag dest")
          assert(g.action == jstr(e("action")), s"$tag action")
        }
      }
    }
    assert(total == 265, s"265 corpus annotations checked, got $total")
  }

  // ── synthetic lanes the corpus lacks ──

  private def open(catalogExtra: String, extra: Seq[PdfWriter.Body], annots: String) = {
    // a 1-page doc whose page carries /Annots
    val raw = Synth.pdfWithCatalogExtra(1, catalogExtra, extra)
    // splice /Annots into the page object (3 0 obj)
    val s = new String(raw, StandardCharsets.ISO_8859_1)
    val patched = s.replace("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>",
      s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Annots [$annots] >>")
    PdfDocument.open(patched.getBytes(StandardCharsets.ISO_8859_1))
  }

  test("Text annotations: icon rect + name without appearance; NoIcon with one") {
    val doc = open("", Seq(
      "<< /Subtype /Text /Rect [100 100 200 300] /Contents (note body) /T (me) >>",
      "<< /Subtype /Text /Rect [10 10 40 50] /Name /Comment /Popup 9 0 R >>"),
      "4 0 R 5 0 R")
    val Vector(a, b) = doc.annotations(0)
    assert(a.annotationType.contains(1) && a.name.contains("Note"))
    assert(a.rect.toSeq == Seq(100.0, 278.0, 122.0, 300.0)) // 22px icon rect
    assert(a.title.contains("me") && a.contents.contains("note body"))
    assert(a.color.isEmpty) // no /C → popup fallback clears it
    assert(b.name.contains("Comment") && b.hasPopup.contains(true))
  }

  test("Widget field names: T chain, backtick index for unnamed kids, Sig hide") {
    val doc = open("", Seq(
      "<< /Subtype /Widget /Rect [0 0 10 10] /FT /Tx /T (kid) /Parent 5 0 R /V (hello) >>",
      "<< /T (form) /Kids [4 0 R] >>",
      "<< /Subtype /Widget /Rect [0 0 9 9] /Parent 7 0 R >>",
      "<< /T (grp) /FT /Btn /Kids [8 0 R 6 0 R] >>",
      "<< /Subtype /Widget /Rect [1 1 2 2] >>",
      "<< /Subtype /Widget /Rect [0 0 5 5] /FT /Sig /T (sig1) >>"),
      "4 0 R 6 0 R 9 0 R")
    val as = doc.annotations(0)
    assert(as.length == 2) // the Sig widget is HIDDEN by the viewable filter
    assert(as(0).fieldName.contains("form.kid"))
    assert(as(0).fieldValue.contains("hello") && as(0).fieldType.contains("Tx"))
    assert(as(1).fieldName.contains("grp.`1")) // unnamed kid at Kids index 1
    assert(as(1).fieldType.contains("Btn")) // inherited from the parent field
  }

  test("Popup takes its parent's title/contents/color; FileAttachment filename") {
    val doc = open("", Seq(
      "<< /Subtype /Popup /Rect [0 0 10 10] /Parent 5 0 R >>",
      "<< /T (author) /Contents (the note) /C [1 0 0] >>",
      "<< /Subtype /FileAttachment /Rect [0 0 8 8] /FS 7 0 R /Contents (att) >>",
      "<< /Type /Filespec /F (data.bin) >>"),
      "4 0 R 6 0 R")
    val Vector(p, fa) = doc.annotations(0)
    assert(p.annotationType.contains(16))
    assert(p.title.contains("author") && p.contents.contains("the note"))
    assert(p.color.contains((255, 0, 0)))
    assert(fa.annotationType.contains(17) && fa.fileFilename.contains("data.bin"))
    assert(fa.contents.contains("att"))
  }

  test("viewable filter: INVISIBLE/HIDDEN/NOVIEW drop, PRINT-only stays") {
    val doc = open("", Seq(
      "<< /Subtype /Link /Rect [0 0 1 1] /F 2 /A << /S /URI /URI (https://x.org/) >> >>",
      "<< /Subtype /Link /Rect [0 0 1 1] /F 4 /A << /S /URI /URI (https://y.org/) >> >>"),
      "4 0 R 5 0 R")
    val as = doc.annotations(0)
    assert(as.map(_.url.get) == Vector("https://y.org/"))
    assert(as.head.flags == 4)
  }

  test("link url rules: www. default protocol, invalid scheme empties, name urls") {
    val doc = open("", Seq(
      "<< /Subtype /Link /Rect [0 0 1 1] /A << /S /URI /URI (www.example.org/a) >> >>",
      "<< /Subtype /Link /Rect [0 0 1 1] /A << /S /URI /URI (javascript:x) >> >>",
      "<< /Subtype /Link /Rect [0 0 1 1] /A << /S /GoToR /F << /F (other.pdf) >> /D [0 /Fit] >> >>",
      "<< /Subtype /Link /Rect [0 0 1 1] /A << /S /Named /N /NextPage >> >>"),
      "4 0 R 5 0 R 6 0 R 7 0 R")
    val as = doc.annotations(0)
    assert(as(0).url.contains("http://www.example.org/a"))
    assert(as(1).url.contains("")) // invalid scheme → empty, like the reference
    assert(as(2).url.contains("") && as(2).dest.contains("0,name:Fit"))
    assert(as(3).action.contains("NextPage"))
  }
}
