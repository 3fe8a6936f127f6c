package graft

import graft.core.ResourceTable
import graft.extract.TextItems
import graft.pdf.FontData
import org.scalatest.funsuite.AnyFunSuite

/** Every table under `src/main/resources/graft` loads on the classpath with
  * its expected size, so a packaging change that drops one fails here
  * instead of silently falling back to built-in Helvetica; and a table that
  * cannot load is read once, not once per call.
  */
class ResourceTableSpec extends AnyFunSuite {

  test("every resource table loads with its expected size") {
    assert(TextItems.normalizedUnicodes.get.size == 1377)
    assert(FontData.encodings.keySet == Set("StandardEncoding", "WinAnsiEncoding",
      "MacRomanEncoding", "SymbolSetEncoding", "ZapfDingbatsEncoding", "ExpertEncoding"))
    assert(FontData.standardEncoding.length == 252 && FontData.expertEncoding.length == 255)
    assert(FontData.metrics.size == 14)
    assert(FontData.metrics.keySet.contains("Helvetica") && FontData.metrics.keySet.contains("Courier"))
    assert(FontData.fontMaps.keySet == Set("stdFontMap", "nonStdFontMap", "serifFonts", "symbolsFonts"))
    assert(FontData.fontMaps.values.forall(_.nonEmpty))
    assert(FontData.glyphsUnicode.size == 4204)
    assert(FontData.cffStandardStrings.length == 391)
  }

  test("a missing resource fails once, naming the file, and is not read again") {
    val table = new ResourceTable("/graft/no-such-table.txt")(_.size)
    val first = intercept[java.util.MissingResourceException](table.get)
    assert(first.getMessage.contains("/graft/no-such-table.txt"))
    (1 to 100).foreach { _ =>
      val again = intercept[java.util.MissingResourceException](table.get)
      assert(again eq first, "a later call read the resource again")
    }
  }

  test("a table whose parse fails runs its loader once over many calls") {
    var parses = 0
    val table = new ResourceTable("/graft/normalized-unicodes.txt")({ lines =>
      parses += 1
      lines.foreach(l => if (l.nonEmpty) throw new IllegalStateException(s"bad line: $l"))
    })
    (1 to 100).foreach(_ => intercept[IllegalStateException](table.get))
    assert(parses == 1)
  }

  test("a table that loads is parsed once and shared") {
    var parses = 0
    val table = new ResourceTable("/graft/fontdata/font-maps.txt")({ lines => parses += 1; lines.size })
    val sizes = (1 to 100).map(_ => table.get)
    assert(parses == 1 && sizes.distinct == Seq(219))
  }
}
