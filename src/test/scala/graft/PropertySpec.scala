package graft

import graft.core.NumFmt
import graft.eval.OpTable
import graft.extract.Extractor
import graft.lex.{ContentLexer, Tok}
import graft.svg.{GlyphRunParser, SvgEmitter}
import graft.testgen.Synth
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets

class PropertySpec extends AnyFunSuite {

  import PropertySpec.Written

  /** Run a scalacheck property and fail the ScalaTest test on falsification
    * (no scalatestplus bridge in the offline cache — drive scalacheck directly).
    *
    * r7 (r6 VERDICT "wrong #2"): the run's initial seed is pinned and printed
    * on failure, so a flake is replayable — re-run with
    * GRAFT_SCALACHECK_SEED=<seed> to reproduce the exact generator stream. */
  private def check(p: Prop): Unit = {
    val seed = sys.env.get("GRAFT_SCALACHECK_SEED").map(_.toLong)
      .getOrElse(System.nanoTime())
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(100)
      .withInitialSeed(org.scalacheck.rng.Seed(seed))
    val res = SCTest.check(params, p)
    assert(res.passed,
      s"${res.status} — replay with GRAFT_SCALACHECK_SEED=$seed")
  }

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString).suchThat(_.nonEmpty)
  private val sentence: Gen[String] =
    Gen.nonEmptyListOf(word).map(_.mkString(" "))

  test("pf is stable: parse(pf(x)) rounds back within 5e-11") {
    check(Prop.forAll(Gen.chooseNum(-1e6, 1e6)) { (x: Double) =>
      val s = NumFmt.pf(x)
      // toFixed(10) rounding error (≤5e-11) plus re-parse rounding (≤1 ulp)
      math.abs(java.lang.Double.parseDouble(s) - x) <= 5.000001e-11 + Math.ulp(x)
    })
  }

  test("pf of pf output is a fixed point") {
    check(Prop.forAll(Gen.chooseNum(-1e6, 1e6)) { (x: Double) =>
      val once = NumFmt.pf(x)
      NumFmt.pf(java.lang.Double.parseDouble(once)) == once
    })
  }

  test("lexer: PDF string escape round-trip") {
    val anyText = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar, Gen.oneOf('(', ')', '\\', ' ', '\n', '\t'))).map(_.mkString)
    check(Prop.forAll(anyText) { (s: String) =>
      val payload = "(" + Synth.escapePdfString(s) + ")"
      val toks = new ContentLexer(
        payload.getBytes(StandardCharsets.ISO_8859_1), OpTable.knownCommands).tokens()
      toks == Vector(Tok.Str(s))
    })
  }

  private def writtenObj(depth: Int): Gen[Written] = {
    import graft.pdf.PObj._
    def hex2(b: Int): String = f"${b & 0xff}%02X"
    val name = Gen.nonEmptyListOf(Gen.choose(1, 255)).map { cs =>
      Written(PName(cs.map(_.toChar).mkString), "/" + cs.map { c =>
        if (c > 0x20 && c < 0x7f && ContentLexer.specialChars(c) == 0 && c != '#') c.toChar.toString
        else "#" + hex2(c)
      }.mkString)
    }
    // literal string: plain ASCII, backslashes, bytes 0x80-0xFF as octal
    // escapes, and balanced nested parens; (value bytes, written text)
    def literal(d: Int): Gen[(Seq[Byte], String)] = {
      val plain = Gen.oneOf((0x20 to 0x7e).filterNot(c => c == '(' || c == ')' || c == '\\'))
        .map(c => (Seq(c.toByte), c.toChar.toString))
      val backslash = Gen.const((Seq('\\'.toByte), "\\\\"))
      val high = Gen.choose(0x80, 0xff).map(c => (Seq(c.toByte), "\\" + c.toOctalString))
      val nested = if (d == 0) plain else literal(d - 1).map { case (b, t) =>
        (('('.toByte +: b) :+ ')'.toByte, s"($t)")
      }
      Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.frequency(6 -> plain, 1 -> backslash, 2 -> high, 1 -> nested)))
        .map(parts => (parts.flatMap(_._1), parts.map(_._2).mkString))
    }
    val literalStr = literal(2).map { case (b, t) => Written(PStr(b.toArray), s"($t)") }
    val hexStr = Gen.listOf(Gen.choose(0, 255)).map(bs =>
      Written(PStr(bs.map(_.toByte).toArray), bs.map(hex2).mkString("<", "", ">")))
    // at most 9 significant digits, written in plain decimal notation
    val number = for {
      neg <- Gen.oneOf(false, true)
      digits <- Gen.choose(1, 9).flatMap(Gen.listOfN(_, Gen.numChar)).map(_.mkString)
      point <- Gen.choose(0, digits.length)
    } yield {
      val text = (if (neg) "-" else "") + (if (point == digits.length) digits
        else digits.substring(0, point) + "." + digits.substring(point))
      Written(PNum(text.toDouble), text)
    }
    val ref = for { n <- Gen.choose(0, 99999); g <- Gen.choose(0, 65535) } yield Written(PRef(n, g), s"$n $g R")
    val bool = Gen.oneOf(true, false).map(b => Written(PBool(b), b.toString))
    val leaf = Gen.oneOf(name, literalStr, hexStr, number, ref, bool, Gen.const(Written(PNull, "null")))
    if (depth == 0) leaf
    else {
      val items = Gen.choose(0, 4).flatMap(Gen.listOfN(_, writtenObj(depth - 1)))
      val array = items.map(xs => Written(PArr(xs.map(_.obj).toVector), xs.map(_.text).mkString("[", " ", "]")))
      val dict = Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.zip(name, writtenObj(depth - 1))))
        .map(_.groupBy(_._1.obj).map(_._2.head).toSeq)
        .map { kvs =>
          Written(PDict(kvs.map { case (k, v) => k.obj.asInstanceOf[PName].name -> v.obj }.toMap),
            kvs.map { case (k, v) => s"${k.text} ${v.text}" }.mkString("<< ", " ", " >>"))
        }
      Gen.frequency(3 -> leaf, 1 -> array, 1 -> dict)
    }
  }

  test("object syntax round-trip: ObjParser reads back what a writer spells") {
    check(Prop.forAll(writtenObj(4)) { (w: Written) =>
      val parsed = new graft.pdf.ObjParser((w.text + "\n").getBytes(StandardCharsets.ISO_8859_1), 0).parseValue()
      val ok = ObjectPinSpec.render(parsed) == ObjectPinSpec.render(w.obj)
      if (!ok) println(s"object round-trip failed on: ${w.text}")
      ok
    })
  }

  test("xml encode/decode round-trip for arbitrary strings") {
    check(Prop.forAll(Gen.asciiPrintableStr, Gen.oneOf("\n", "\t", "&", "<", "\"", ">")) {
      (s: String, special: String) =>
        val text = s + special + s
        GlyphRunParser.xmlDecode(SvgEmitter.xmlEncode(text)) == text
    })
  }

  test("svg dialect round-trip: encode → extract = expected lines") {
    check(Prop.forAll(sentence) { (text: String) =>
      Extractor.extract(Synth.encodeSvg(text)).text == Synth.expectedLines(text)
    })
  }

  test("html dialect round-trip is identity") {
    check(Prop.forAll(sentence) { (text: String) =>
      Extractor.extract(Synth.encodeHtml(text)).text == text
    })
  }

  test("pdf dialect round-trip = expected lines") {
    check(Prop.forAll(sentence) { (text: String) =>
      Extractor.extract(Synth.encodePdf(text)).text == Synth.expectedLines(text)
    })
  }

  test("markdown dialect round-trip is identity (incl. markdown specials in content)") {
    import graft.extract.Extractor
    import graft.testgen.Synth
    for (txt <- Seq(
      "plain words with no markup at all in them",
      "stars *like this* and **this** plus _under_ and `ticks`",
      "brackets [x](y) and #hash - dash . dot ! bang > quote",
      "backslash \\ and `mixed` *everything* [together](now)",
      "a",
      "")) {
      val md = Synth.encodeMarkdown(txt)
      assert(Extractor.sniff(md) == Extractor.Dialect.Markdown, md.take(20))
      val got = Extractor.extract(md).text
      assert(got == txt, s"md round trip failed:\n in: [$txt]\nout: [$got]")
    }
    // scalacheck-style sweep over printable-ish strings
    val rnd = new scala.util.Random(11)
    (0 until 200).foreach { _ =>
      val txt = (0 until rnd.nextInt(60)).map(_ => (32 + rnd.nextInt(95)).toChar).mkString
        .replace("\u007f", " ")
      val got = Extractor.extract(Synth.encodeMarkdown(txt)).text
      assert(got == txt, s"[$txt] -> [$got]")
    }
  }

  test("markdown stripper handles real-world constructs") {
    import graft.extract.MarkdownLite
    val md =
      """---
        |title: t
        |---
        |
        |# Heading One
        |
        |Intro paragraph with [a link](https://x.y) and **bold** text.
        |
        |> quoted line
        |
        |- item one
        |- item two
        |
        |```
        |code *stays* [verbatim](x)
        |```
        |tail""".stripMargin
    val ex = MarkdownLite.strip(md)
    // interior blank lines are content (consecutive newlines round-trip);
    // only front matter, its separator, and fence markers drop
    assert(ex.text ==
      """Heading One
        |
        |Intro paragraph with a link and bold text.
        |
        |quoted line
        |
        |item one
        |item two
        |
        |code *stays* [verbatim](x)
        |tail""".stripMargin, ex.text)
    assert(ex.droppedLines > 0)
    // plain text that merely starts with --- degrades gracefully
    assert(MarkdownLite.strip("--- not front matter\nrest").text == "--- not front matter\nrest")
  }

  test("extractor never throws on arbitrary input") {
    check(Prop.forAll(Gen.asciiStr) { (junk: String) =>
      Extractor.extract(junk) != null
    })
  }

  test("extractor never throws on markup soup") {
    val fragment: Gen[String] = Gen.oneOf(
      Gen.oneOf("<svg:tspan ", "</svg:tspan>", "<svg:text transform=\"", "<div class=\"",
        "BT ", "ET ", "(unclosed ", ") Tj ", "<p>", "</p>", "&amp;", "&#x", "x=\"1 2 3",
        "<script>", "<!--", "q ", "Q ", "<html><body>", "scale(1, -1)", "\\", "\""),
      Gen.alphaNumStr, Gen.asciiPrintableStr)
    val soup: Gen[String] = Gen.listOf(fragment).map(_.mkString)
    check(Prop.forAll(soup) { (payload: String) =>
      val r = Extractor.extract(payload)
      r != null && r.text != null
    })
  }
}

object PropertySpec {

  /** One generated object: the value and how a writer spells it. */
  final case class Written(obj: graft.pdf.PObj, text: String)
}
