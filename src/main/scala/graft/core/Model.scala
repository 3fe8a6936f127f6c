package graft.core

/** Core data model for the extraction engine.
  *
  * The driver-visible schema follows BASELINE.json `input_hint`: an Iceberg/parquet
  * table of multi-turn transcripts. Executor-internal structures (tokens, PDF
  * objects, glyph runs) are plain Scala ADTs that never leak into Catalyst types
  * (same boundary the reference draws between postMessage-serializable operator
  * lists and internal Dict/Ref objects — /root/reference/src/main/js/
  * pdf.combined.js:45867-45881).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: java.sql.Timestamp)

/** Character-offset span into `extracted_text`; generalizes the reference's
  * annotation bboxes (pdfToSvg.js:124-168) to character offsets. */
final case class Span(start: Int, end: Int, label: String)

final case class TurnMetrics(runs: Int, chars: Int, dropped_nodes: Int)

final case class ExtractedTurn(
    conv_id: String,
    turn_idx: Int,
    extracted_text: String,
    spans: Seq[Span],
    metrics: TurnMetrics)

/** One positioned text run — the payload of a single `svg:tspan` as emitted by the
  * reference's SVG sink (SVGGraphics.showText, pdf.combined.js:20310-20378):
  * decoded characters plus one x coordinate per glyph, a y coordinate (the tspan's
  * `y` attribute, = -current.y in text space), font attributes, and the enclosing
  * `svg:text` transform matrix (6-vector, before the trailing `scale(1, -1)`).
  */
final case class GlyphRun(
    text: String,
    xs: Array[Double],
    y: Double,
    fontFamily: String,
    fontSize: Double,
    fontStyle: String, // "normal" | "italic"
    fontWeight: String, // "normal" | "bold" | "bolder"
    fill: String, // "rgb(r,g,b)"
    matrix: Array[Double], // text transform [a b c d e f]
    page: Int = 0 // page index within the payload (multi-page stitching, §2.8 C1-C2)
) {
  /** Effective glyph scale: font-size is in text space; the matrix scales it. */
  def scale: Double = math.hypot(matrix(0), matrix(1))
}
