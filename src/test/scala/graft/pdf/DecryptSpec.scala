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

  import DecryptSpec._

  test("RC4 (V2/R3) encrypted document extracts with the empty user password") {
    val (_, pdf) = rc4Doc
    val doc = PdfDocument.open(pdf)
    assert(doc.evalPage(0).runs.map(_.text) == Vector("secret but extractable"))
  }

  test("AES-128 (V4 /AESV2) encrypted document extracts") {
    val (dec, pdf) = aesDoc
    assert(dec.isAes)
    val doc = PdfDocument.open(pdf)
    assert(doc.evalPage(0).runs.map(_.text) == Vector("secret but extractable"))
  }

  test("unsupported handler degrades to no text, never throws") {
    val doc = PdfDocument.open(unsupportedPdf)
    // content stays undecrypted... which here IS plaintext, so it extracts;
    // the point is the open/eval path survives an unknown /Encrypt
    assert(doc.pages.length == 1)
    doc.evalPage(0) // must not throw
  }
}

/** The spec's documents, shared with the object pin (`graft.ObjectPinSpec`). */
object DecryptSpec {

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

  private def decryptor(body: String): Decryptor = {
    // derive the key exactly as the engine will
    val parsed = new ObjParser(body.getBytes(ISO_8859_1), 0).parseValue().asInstanceOf[PObj.PDict]
    Decryptor.fromEncryptDict(parsed, docId, identity).get
  }

  /** RC4 (V2/R3): the content is RC4-encrypted (an involution). */
  private[graft] def rc4Doc: (Decryptor, Array[Byte]) = {
    val body = encDict(2, 3)
    val dec = decryptor(body)
    (dec, buildPdf(body, dec.decrypt(content.getBytes(ISO_8859_1), 4, 0)))
  }

  /** AES-128 (V4 /AESV2): the content is AES-CBC-encrypted with a fixed IV. */
  private[graft] def aesDoc: (Decryptor, Array[Byte]) = {
    val body = encDict(4, 4, "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> /StmF /StdCF /StrF /StdCF ")
    val dec = decryptor(body)
    val key = dec.objectKey(4, 0)
    val iv = Array.tabulate[Byte](16)(i => (i * 7 + 3).toByte)
    val cipher = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    cipher.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    (dec, buildPdf(body, iv ++ cipher.doFinal(content.getBytes(ISO_8859_1))))
  }

  private[graft] def unsupportedPdf: Array[Byte] =
    buildPdf("<< /Filter /SomethingElse /V 9 >>", content.getBytes(ISO_8859_1))
}
