package graft.eval

import graft.lex.{ContentLexer, Tok}

import scala.collection.mutable.ArrayBuffer

/** Content-stream operator table: the 73 commands the reference accepts
  * (opMap, /root/reference/src/main/js/pdf.combined.js:47221-47329), with
  * arity and variable-args flags. Commands are from the public PDF spec
  * (ISO 32000-1 §A.2). [[OpReader]] is the one loop that reads a content
  * stream against this table, for the evaluator and the text items alike.
  */
final case class OpSpec(name: String, numArgs: Int, variableArgs: Boolean = false)

object OpTable {
  private val specs: Seq[OpSpec] = Seq(
    // graphics state
    OpSpec("w", 1), OpSpec("J", 1), OpSpec("j", 1), OpSpec("M", 1),
    OpSpec("d", 2), OpSpec("ri", 1), OpSpec("i", 1), OpSpec("gs", 1),
    OpSpec("q", 0), OpSpec("Q", 0), OpSpec("cm", 6),
    // path construction + painting
    OpSpec("m", 2), OpSpec("l", 2), OpSpec("c", 6), OpSpec("v", 4),
    OpSpec("y", 4), OpSpec("h", 0), OpSpec("re", 4),
    OpSpec("S", 0), OpSpec("s", 0), OpSpec("f", 0), OpSpec("F", 0),
    OpSpec("f*", 0), OpSpec("B", 0), OpSpec("B*", 0), OpSpec("b", 0),
    OpSpec("b*", 0), OpSpec("n", 0),
    // clipping
    OpSpec("W", 0), OpSpec("W*", 0),
    // text
    OpSpec("BT", 0), OpSpec("ET", 0),
    OpSpec("Tc", 1), OpSpec("Tw", 1), OpSpec("Tz", 1), OpSpec("TL", 1),
    OpSpec("Tf", 2), OpSpec("Tr", 1), OpSpec("Ts", 1),
    OpSpec("Td", 2), OpSpec("TD", 2), OpSpec("Tm", 6), OpSpec("T*", 0),
    OpSpec("Tj", 1), OpSpec("TJ", 1), OpSpec("'", 1), OpSpec("\"", 3),
    // type3 glyph metrics
    OpSpec("d0", 2), OpSpec("d1", 6),
    // color
    OpSpec("CS", 1), OpSpec("cs", 1),
    OpSpec("SC", 4, variableArgs = true), OpSpec("SCN", 33, variableArgs = true),
    OpSpec("sc", 4, variableArgs = true), OpSpec("scn", 33, variableArgs = true),
    OpSpec("G", 1), OpSpec("g", 1), OpSpec("RG", 3), OpSpec("rg", 3),
    OpSpec("K", 4), OpSpec("k", 4),
    // shading / images / xobjects
    OpSpec("sh", 1), OpSpec("BI", 0), OpSpec("ID", 0), OpSpec("EI", 0),
    OpSpec("Do", 1),
    // marked content / compatibility
    OpSpec("MP", 1), OpSpec("DP", 2), OpSpec("BMC", 1), OpSpec("BDC", 2),
    OpSpec("EMC", 0), OpSpec("BX", 0), OpSpec("EX", 0)
  )

  /** The table by name: a `java.util.HashMap`, so the per-operator lookup
    * compares `String`s directly and allocates no `Option`. */
  val ops: java.util.HashMap[String, OpSpec] = {
    val m = new java.util.HashMap[String, OpSpec](specs.length * 2)
    specs.foreach(s => m.put(s.name, s))
    m
  }

  /** Command set for the lexer's early-break rule — the full op table plus the
    * reference's reserved partial commands (pdf.combined.js:47319-47328), which
    * keep multi-char tokens whose first char is itself a command (`false`,
    * `null`, `BMC`, `BDC`) from being split. */
  val knownCommands: ContentLexer.Commands = ContentLexer.Commands(specs.map(_.name) ++ Seq(
    "BM", "BD", "true", "fa", "fal", "fals", "false", "nu", "nul", "null"))
}

/** The one content-stream operator reader, after EvaluatorPreprocessor.read
  * (pdf.combined.js:47366-47434), which the reference's getOperatorList and
  * getTextContent both use. It collects operands, keeps `[ ] << >> { }`
  * tokens as operands (TJ arrays, dict payloads), skips unknown commands,
  * keeps only the last `numArgs` operands of a fixed-arity operator that has
  * more (unless they hold an array or dict), and skips an operator with too
  * few. Like the reference's parser (`makeInlineImage`), it skips an inline
  * image's data itself, from `ID` to just after `EI`. `ContentEvaluator` and
  * `TextItems` keep only their operator switches.
  */
final class OpReader(bytes: Array[Byte]) {
  private val lexer = new ContentLexer(bytes, OpTable.knownCommands)

  /** Read the stream to its end, passing each accepted operator and its
    * operands to `handle` (the operand buffer is reused: read it during the
    * call only). Returns the number of skipped operators. */
  def read(handle: (String, scala.collection.IndexedSeq[Tok]) => Unit): Int = {
    val args = ArrayBuffer.empty[Tok]
    var skipped = 0
    var tok = lexer.getObj()
    while (tok != Tok.EOF) {
      tok match {
        case Tok.Cmd(cmd) =>
          OpTable.ops.get(cmd) match {
            case null =>
              cmd match {
                case "[" | "]" | "<<" | ">>" | "{" | "}" => args += tok
                case _ => skipped += 1; args.clear() // unknown command (47374-47377)
              }
            case spec =>
              // excess operands: keep the last numArgs (47383-47408)
              val hasStructure = args.exists {
                case Tok.Cmd("[") | Tok.Cmd("<<") => true
                case _ => false
              }
              if (!hasStructure && !spec.variableArgs && args.length > spec.numArgs && spec.numArgs > 0)
                args.remove(0, args.length - spec.numArgs)
              if (!spec.variableArgs && args.length < spec.numArgs) skipped += 1
              else handle(cmd, args)
              args.clear()
              if (cmd == "ID") lexer.seekAfterEI()
          }
        case t => args += t
      }
      tok = lexer.getObj()
    }
    skipped
  }
}
