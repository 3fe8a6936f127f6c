package graft.pdf

import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Paths}

/** Document metadata surface — getMetadata parity (SURVEY.md §3.3; reference
  * getinfo.js:33-43, documentInfo pdf.combined.js:49241-49269).
  */
class MetadataSpec extends AnyFunSuite {

  import MetadataSpec._

  test("decodePdfString: UTF-16BE BOM path") {
    val bytes = Array[Byte](0xFE.toByte, 0xFF.toByte, 0x00, 0x41, 0x20, 0x1E)
    assert(PdfDocument.decodePdfString(bytes) == "A„")
  }

  test("decodePdfString: PDFDocEncoding overrides and identity") {
    // 0x92 -> U+2122 (TM), 0xA0 -> U+20AC (euro), plain ASCII unchanged,
    // 0xE9 passes through as-is (Latin-1 region is identity)
    val bytes = Array[Byte](0x48, 0x92.toByte, 0xA0.toByte, 0xE9.toByte)
    assert(PdfDocument.decodePdfString(bytes) == "H™€é")
  }

  test("synthetic /Info dict: validated keys only, Trapped name, bad types dropped") {
    val (xml, pdf) = infoDoc
    val doc = PdfDocument.open(pdf)
    assert(doc.info == Map("Title" -> "Hello", "Trapped" -> "True"))
    assert(doc.xmp.contains(xml))
  }

  test("decodePdfString: odd-length UTF-16BE keeps the final high byte") {
    // reference reads charCodeAt past the end, which coerces to 0:
    // FE FF 00 41 42 -> "A" + U+4200 (stringToPDFString, 3280-3285)
    val bytes = Array[Byte](0xFE.toByte, 0xFF.toByte, 0x00, 0x41, 0x42)
    assert(PdfDocument.decodePdfString(bytes) == "A䈀")
  }

  test("/EncryptMetadata false: the XMP stream is plaintext and stays intact") {
    // RC4-encrypted document whose metadata is NOT encrypted — running the
    // cipher over it would garble the packet (reference fetches it with
    // suppressEncryption, pdf.combined.js:42562-42565)
    val (dec, xml, pdf) = encryptMetadataFalseDoc
    assert(!dec.encryptMetadata)
    val doc = PdfDocument.open(pdf)
    assert(doc.xmp.contains(xml), doc.xmp)
    assert(doc.evalPage(0).runs.map(_.text) == Vector("s")) // content still decrypts
  }

  test("reference corpus metadata (skips when checkout absent)") {
    val p = Paths.get("/root/reference/src/test/resources/input/test24.pdf")
    if (!Files.exists(p)) cancel("reference inputs not present")
    val doc = PdfDocument.open(Files.readAllBytes(p))
    // the incremental update's /Info generation must win over the original
    assert(doc.info("Title") == ("Synthesis, Structures, Polymorphism, and " +
      "Magnetic Properties of Transition Metal Thiocyanato Coordination Compounds"))
    assert(doc.info("ModDate") == "D:20140402001426-05'00'")
    assert(doc.info("Producer") == "Atypon Systems, Inc.")
    assert(doc.xmp.exists(_.contains("xmpmeta")))

    val p2 = Paths.get("/root/reference/src/test/resources/input/C04-1204.pdf")
    val doc2 = PdfDocument.open(Files.readAllBytes(p2))
    assert(doc2.info == Map("Producer" -> "GNU Ghostscript 6.51"))
    assert(doc2.xmp.isEmpty)
  }
}

/** The spec's documents, shared with the object pin (`graft.ObjectPinSpec`). */
object MetadataSpec {

  /** The XMP packet and a document with an /Info dict. */
  private[graft] def infoDoc: (String, Array[Byte]) = {
    val xml = "<?xpacket?><x:xmpmeta xmlns:x=\"adobe:ns:meta/\"></x:xmpmeta>"
    (xml, PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R /Metadata 5 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] >>",
      // Title valid; Author wrong type (number) dropped; custom key ignored;
      // Trapped name kept
      "<< /Title (Hello) /Author 7 /MyCustomKey (nope) /Trapped /True >>",
      PdfWriter.stream("/Type /Metadata /Subtype /XML", xml.getBytes(ISO_8859_1))),
      " /Info 4 0 R"))
  }

  /** The decryptor, the XMP packet and an RC4 document with
    * `/EncryptMetadata false`. */
  private[graft] def encryptMetadataFalseDoc: (Decryptor, String, Array[Byte]) = {
    val docId = "0123456789abcdef".getBytes(ISO_8859_1)
    val encBody = "<< /Filter /Standard /V 4 /R 4 /Length 128 /P -3904 " +
      "/EncryptMetadata false " +
      "/CF << /StdCF << /CFM /V2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF " +
      "/O <" + "41" * 32 + "> /U <" + "42" * 32 + "> >>"
    val parsed = new ObjParser(encBody.getBytes(ISO_8859_1), 0)
      .parseValue().asInstanceOf[PObj.PDict]
    val dec = Decryptor.fromEncryptDict(parsed, docId, identity).get
    val content = "BT /F1 12 Tf 72 720 Td (s) Tj ET"
    val encStream = dec.decrypt(content.getBytes(ISO_8859_1), 4, 0) // RC4 involution
    val xml = "<?xpacket?><x:xmpmeta>plain</x:xmpmeta>"
    (dec, xml, PdfWriter(Seq(
      "<< /Type /Catalog /Pages 2 0 R /Metadata 6 0 R >>",
      "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
      "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
      PdfWriter.stream("", encStream),
      encBody,
      // metadata stream stored PLAINTEXT (EncryptMetadata false)
      PdfWriter.stream("/Type /Metadata /Subtype /XML", xml.getBytes(ISO_8859_1))),
      " /Encrypt 5 0 R /ID [<30313233343536373839616263646566> <30313233343536373839616263646566>]"))
  }
}
