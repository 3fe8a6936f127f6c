package graft.pdf

import graft.testgen.PdfWriter
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.ISO_8859_1

/** Encrypted-PDF support: standard security handler with the empty user
  * password — RC4 (V2/R3) and AES-128 (V4 /AESV2). The test encrypts a
  * synthetic document with the same published algorithms (RC4 is an
  * involution; AES via JCE with the derived per-object key) and requires the
  * engine to extract the plaintext.
  */
class DecryptSpec extends AnyFunSuite {

  private val content = "BT /F1 12 Tf 72 720 Td (secret but extractable) Tj ET"
  private val docId = "0123456789abcdef".getBytes(ISO_8859_1)

  // ID strings in the trailer are plaintext; no usable xref → recovery scan
  private def buildPdf(encBody: String, encStream: Array[Byte]): Array[Byte] = PdfWriter(Seq(
    "<< /Type /Catalog /Pages 2 0 R >>",
    "<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
    "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] /Contents 4 0 R >>",
    PdfWriter.stream("", encStream),
    encBody),
    " /Encrypt 5 0 R /ID [<30313233343536373839616263646566> <30313233343536373839616263646566>]")

  private def encDict(v: Int, r: Int, extra: String = ""): String =
    s"<< /Filter /Standard /V $v /R $r /Length 128 /P -3904 " +
      "/O <" + "41" * 32 + "> /U <" + "42" * 32 + "> " + extra + ">>"

  test("RC4 (V2/R3) encrypted document extracts with the empty user password") {
    val body = encDict(2, 3)
    // derive the key exactly as the engine will, then RC4-encrypt (involution)
    val parsed = new ObjParser(body.getBytes(ISO_8859_1), 0).parseValue().asInstanceOf[PObj.PDict]
    val dec = Decryptor.fromEncryptDict(parsed, docId, identity).get
    val encStream = dec.decrypt(content.getBytes(ISO_8859_1), 4, 0)
    val doc = PdfDocument.open(buildPdf(body, encStream))
    assert(doc.evalPage(0).runs.map(_.text) == Vector("secret but extractable"))
  }

  test("AES-128 (V4 /AESV2) encrypted document extracts") {
    val body = encDict(4, 4, "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF ")
    val parsed = new ObjParser(body.getBytes(ISO_8859_1), 0).parseValue().asInstanceOf[PObj.PDict]
    val dec = Decryptor.fromEncryptDict(parsed, docId, identity).get
    assert(dec.isAes)
    val key = dec.objectKey(4, 0)
    val iv = Array.tabulate[Byte](16)(i => (i * 7 + 3).toByte)
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    val encStream = iv ++ cipher.doFinal(content.getBytes(ISO_8859_1))
    val doc = PdfDocument.open(buildPdf(body, encStream))
    assert(doc.evalPage(0).runs.map(_.text) == Vector("secret but extractable"))
  }

  test("unsupported handler degrades to no text, never throws") {
    val body = "<< /Filter /SomethingElse /V 9 >>"
    val doc = PdfDocument.open(buildPdf(body, content.getBytes(ISO_8859_1)))
    // content stays undecrypted... which here IS plaintext, so it extracts;
    // the point is the open/eval path survives an unknown /Encrypt
    assert(doc.pages.length == 1)
    doc.evalPage(0) // must not throw
  }
}
