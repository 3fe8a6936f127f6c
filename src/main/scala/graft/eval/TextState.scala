package graft.eval

import graft.core.NumFmt
import graft.lex.Tok

/** The graphics and text state both text surfaces run on: the tspan runs of
  * [[ContentEvaluator]] and the `getTextContent` items of
  * `graft.extract.TextItems`. It copies itself for `q`/`Q` and runs the
  * operators that only change it; each surface keeps its own show
  * operators, its own flush points, its own `Do` and its own stack.
  *
  * The text and line matrices are only ever replaced, never written in place:
  * pen moves go to `x`/`y` and `lineX`/`lineY` (text space, relative to the
  * line matrix), as in the SVG backend, so a snapshot shares them.
  */
final class TextState extends Cloneable {
  var ctm: Array[Double] = NumFmt.Identity
  var textMatrix: Array[Double] = NumFmt.Identity
  var lineMatrix: Array[Double] = NumFmt.Identity
  var x, y, lineX, lineY = 0.0
  var charSpacing, wordSpacing = 0.0
  var textHScale = 1.0
  var leading = 0.0 // as `TL` sets it: `T*` moves the pen by (0, -leading)
  var textRise = 0.0
  /** Font size without its sign; a negative `Tf` size sets `fontDirection`
    * to -1 (the size times the direction is the size as written). */
  var fontSize = 0.0
  var fontDirection = 1.0
  /** Null until a `Tf` or an ExtGState `/Font` sets it; the size is 0 until
    * then too. */
  var font: FontSpec = null
  var fillColor = "rgb(0,0,0)"
  var fillCS: ColorSpaceModel = null // null = component-count heuristic

  /** Full copy for `q` and a form's `Do`: the reference's save/restore
    * copies the entire state (SVGGraphics save/restore,
    * pdf.combined.js:20015-20029), including text position, matrices,
    * fontDirection and rise. */
  def snapshot: TextState = clone().asInstanceOf[TextState]

  /** Every field back from a snapshot. */
  def restoreFrom(c: TextState): Unit = {
    ctm = c.ctm; textMatrix = c.textMatrix; lineMatrix = c.lineMatrix
    x = c.x; y = c.y; lineX = c.lineX; lineY = c.lineY
    charSpacing = c.charSpacing; wordSpacing = c.wordSpacing
    textHScale = c.textHScale; leading = c.leading; textRise = c.textRise
    fontSize = c.fontSize; fontDirection = c.fontDirection; font = c.font
    fillColor = c.fillColor; fillCS = c.fillCS
  }

  /** `Tf` and an ExtGState `/Font`: the size's sign becomes the direction. */
  def setFont(f: FontSpec, size: Double): Unit = {
    font = f
    if (size < 0) { fontSize = -size; fontDirection = -1 }
    else { fontSize = size; fontDirection = 1 }
  }

  /** `Td`: the pen moves to the start of the next line, offset from the
    * start of the current one. */
  private def moveText(tx: Double, ty: Double): Unit = {
    lineX += tx; x = lineX
    lineY += ty; y = lineY
  }

  /** `T*`. */
  def nextLine(): Unit = moveText(0, -leading)

  // counted in a field, not a closure, so the arms below allocate nothing
  private var badOperands = 0

  private def num(args: scala.collection.IndexedSeq[Tok], i: Int): Double = args(i) match {
    case Tok.Num(v) => v
    case _ => badOperands += 1; 0.0
  }

  /** Runs `cmd` when it only changes this state (`cm`, `BT`, `Tm`, `Td`,
    * `TD`, `T*`, `TL`, `Tc`, `Tw`, `Tz`, `Ts`); any other operator leaves it
    * unchanged. Returns the number of operand reads that found no number
    * (each reads as 0). */
  def exec(cmd: String, args: scala.collection.IndexedSeq[Tok]): Int = {
    badOperands = 0
    cmd match {
      case "cm" =>
        ctm = NumFmt.mul(ctm,
          Array(num(args, 0), num(args, 1), num(args, 2), num(args, 3), num(args, 4), num(args, 5)))
      case "BT" =>
        x = 0; y = 0; lineX = 0; lineY = 0
        textMatrix = NumFmt.Identity; lineMatrix = NumFmt.Identity
      case "Tm" =>
        textMatrix = Array(num(args, 0), num(args, 1), num(args, 2),
          num(args, 3), num(args, 4), num(args, 5))
        lineMatrix = textMatrix
        x = 0; y = 0; lineX = 0; lineY = 0
      case "Td" => moveText(num(args, 0), num(args, 1))
      case "TD" => leading = -num(args, 1); moveText(num(args, 0), num(args, 1))
      case "T*" => nextLine()
      case "TL" => leading = num(args, 0)
      case "Tc" => charSpacing = num(args, 0)
      case "Tw" => wordSpacing = num(args, 0)
      case "Tz" => textHScale = num(args, 0) / 100
      case "Ts" => textRise = num(args, 0)
      case _ => ()
    }
    badOperands
  }
}
