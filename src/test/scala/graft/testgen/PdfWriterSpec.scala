package graft.testgen

import org.scalatest.funsuite.AnyFunSuite

/** A byte pin on every `Synth` fixture that oracle or parity literals were
  * computed over (q64-q69's synthetic rows, AttachmentsSpec's fingerprint,
  * TextItemsSpec's whitespace items, the Outline/Annotations parity lanes).
  * Those literals came from the vendored engine and cannot be regenerated
  * without it, so the bytes `PdfWriter` writes for them must not drift.
  */
class PdfWriterSpec extends AnyFunSuite {

  private def md5(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  import PdfWriterSpec._

  test("every literal-bearing Synth fixture keeps its bytes") {
    val drift = pinned.map { case (name, pdf, want) => (name, md5(pdf), want) }
      .collect { case (name, got, want) if got != want => s"$name: $got (pinned $want)" }
    assert(drift.isEmpty, drift.mkString("\n"))
  }
}

/** The pinned fixtures, shared with the object pin (`graft.ObjectPinSpec`). */
object PdfWriterSpec {

  // MD5s of the bytes Synth wrote before it moved onto PdfWriter
  private[graft] val pinned: Seq[(String, Array[Byte], String)] = Seq(
    // graft.entry.PdfQueries q65, q67, q68, q64 synthetic rows
    ("outline_url", Synth.pdfWithCatalogExtra(2, "/Outlines 5 0 R", Seq(
      "<< /First 6 0 R /Last 7 0 R >>",
      "<< /Title (Site) /F 3 /C [0 0.5 1] /A << /S /URI /URI (https://example.org/p) >> /Next 7 0 R >>",
      "<< /Title (Here) /Dest [4 0 R /XYZ 10 20 null] >>")), "a83282147f4c7ff246effdb3df397393"),
    ("attach", Synth.pdfWithAttachments(), "e22eda85d71a7e91bdf78ca05ee14589"),
    ("js", Synth.pdfWithJavaScript(), "9644dfc338be2dfb1476fc51942cc852"),
    ("jsopen", Synth.pdfWithJavaScript(openActionJs = true), "129cc1e9af0d70a14f831feed9216046"),
    ("labels_mixed", Synth.pdfWithCatalogExtra(7,
      "/PageLabels << /Nums [0 << /S /r >> 2 << /S /D >> 5 << /S /D /P (A-) >>] >>"), "dde0719781d86024159f44de973acc15"),
    ("labels_letters", Synth.pdfWithCatalogExtra(3,
      "/PageLabels << /Nums [0 << /S /A /St 26 >>] >>"), "00c20dedfd0be32bcf82668cb7fc849d"),
    ("labels_kids", Synth.pdfWithCatalogExtra(4, "/PageLabels << /Kids [7 0 R 8 0 R] >>", Seq(
      "<< /Limits [0 1] /Nums [0 << /S /r >>] >>",
      "<< /Limits [2 3] /Nums [2 << /S /D >>] >>")), "767a169404a0ff2c0c08e999a4ac5b81"),
    ("labels_malformed", Synth.pdfWithCatalogExtra(2,
      "/PageLabels << /Nums [0 << /S /Q >>] >>"), "b0ecf1fc19f22fa2a49759ff5687cd8e"),
    // TextItemsSpec normalizeWhitespace items
    ("whitespace", Synth.pdfWithWhitespaceText(), "0d554b1ada58598f323061912eb9fbab"),
    // OutlineParitySpec synthetic lanes (3 pages)
    ("outline_urls", Synth.pdfWithCatalogExtra(3, "/Outlines 6 0 R", Seq(
      "<< /First 7 0 R /Last 8 0 R >>",
      "<< /Title (Web) /A << /S /URI /URI (https://example.org/x) >> /Next 8 0 R >>",
      "<< /Title (Odd) /A << /S /URI /URI (javascript:alert(1)) >> >>")), "44c12e585e7e0c44e72e07b41674fd5b"),
    ("outline_flags", Synth.pdfWithCatalogExtra(3, "/Outlines 6 0 R", Seq(
      "<< /First 7 0 R /Last 7 0 R >>",
      "<< /Title (Deep) /F 3 /C [0.5 1.2 -0.1] /Count -2 /Dest [4 0 R /XYZ 10 20 null] >>")), "dc1047703605e9a91e78d78e147c2e9f"),
    ("outline_cycle", Synth.pdfWithCatalogExtra(3, "/Outlines 6 0 R", Seq(
      "<< /First 7 0 R /Last 8 0 R >>",
      "<< /Title (A) /Next 8 0 R >>",
      "<< /Title (B) /Next 7 0 R >>")), "9ab4ee162c8502d244dd7e36723a5110"),
    ("outline_no_title", Synth.pdfWithCatalogExtra(3, "/Outlines 6 0 R", Seq(
      "<< /First 7 0 R /Last 8 0 R >>",
      "<< /Title (Ok) /Next 8 0 R >>",
      "<< /Dest (nowhere) >>")), "3d07fd47ef6ab0054bad420501234021"),
    ("outline_legacy_dests", Synth.pdfWithCatalogExtra(3,
      "/Outlines 6 0 R /Dests << /here [5 0 R /FitH 100] >>", Seq(
        "<< /First 7 0 R /Last 7 0 R >>",
        "<< /Title (Jump) /Dest /here >>")), "c6000483ca85db135b26507b877a54c6"),
    ("outline_dict_dests", Synth.pdfWithCatalogExtra(3,
      "/Outlines 6 0 R /Names << /Dests << /Names [(d1) << /D [3 0 R /Fit] >>] >> >>", Seq(
        "<< /First 7 0 R /Last 7 0 R >>",
        "<< /Title (R) /Dest 9 0 R >>",
        "[4 0 R /Fit]")), "dc41cc20bd6d77147d9163f08c03fb2f"),
    // AnnotationsParitySpec synthetic lanes (1 page, before the /Annots splice)
    ("annots_text", Synth.pdfWithCatalogExtra(1, "", Seq(
      "<< /Subtype /Text /Rect [100 100 200 300] /Contents (note body) /T (me) >>",
      "<< /Subtype /Text /Rect [10 10 40 50] /Name /Comment /Popup 9 0 R >>")), "a5a19f7d55a616efa9837a461fd75fa8"),
    ("annots_widget", Synth.pdfWithCatalogExtra(1, "", Seq(
      "<< /Subtype /Widget /Rect [0 0 10 10] /FT /Tx /T (kid) /Parent 5 0 R /V (hello) >>",
      "<< /T (form) /Kids [4 0 R] >>",
      "<< /Subtype /Widget /Rect [0 0 9 9] /Parent 7 0 R >>",
      "<< /T (grp) /FT /Btn /Kids [8 0 R 6 0 R] >>",
      "<< /Subtype /Widget /Rect [1 1 2 2] >>",
      "<< /Subtype /Widget /Rect [0 0 5 5] /FT /Sig /T (sig1) >>")), "8fda27cce9b78a5374c019bf7c999b9d"),
    ("annots_popup", Synth.pdfWithCatalogExtra(1, "", Seq(
      "<< /Subtype /Popup /Rect [0 0 10 10] /Parent 5 0 R >>",
      "<< /T (author) /Contents (the note) /C [1 0 0] >>",
      "<< /Subtype /FileAttachment /Rect [0 0 8 8] /FS 7 0 R /Contents (att) >>",
      "<< /Type /Filespec /F (data.bin) >>")), "113d14f6056782d7ee20c72ebbb70391"),
    ("annots_viewable", Synth.pdfWithCatalogExtra(1, "", Seq(
      "<< /Subtype /Link /Rect [0 0 1 1] /F 2 /A << /S /URI /URI (https://x.org/) >> >>",
      "<< /Subtype /Link /Rect [0 0 1 1] /F 4 /A << /S /URI /URI (https://y.org/) >> >>")), "eb2ed338ee3abd3909096b161e7e0ce3"),
    ("annots_links", Synth.pdfWithCatalogExtra(1, "", Seq(
      "<< /Subtype /Link /Rect [0 0 1 1] /A << /S /URI /URI (www.example.org/a) >> >>",
      "<< /Subtype /Link /Rect [0 0 1 1] /A << /S /URI /URI (javascript:x) >> >>",
      "<< /Subtype /Link /Rect [0 0 1 1] /A << /S /GoToR /F << /F (other.pdf) >> /D [0 /Fit] >> >>",
      "<< /Subtype /Link /Rect [0 0 1 1] /A << /S /Named /N /NextPage >> >>")), "f79407bcd202a8f425adc5702a19e77c"))
}
