package graft.functions

import graft.core.ExtractedTurn
import graft.extract.Extractor
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GetStructField, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel so generated code calls a monomorphic method: one
  * `Extractor.extract` per row, as a Catalyst struct row. */
object ExtractTurnKernel {
  def extract(payload: UTF8String): InternalRow = {
    val r = Extractor.extract(if (payload == null) null else payload.toString)
    InternalRow(
      UTF8String.fromString(r.text),
      new GenericArrayData(r.spans.map(s =>
        InternalRow(s.start, s.end, UTF8String.fromString(s.label))).toArray[Any]),
      InternalRow(r.metrics.runs, r.metrics.chars, r.metrics.dropped_nodes))
  }
}

/** `extract_turn(payload)` — the one extraction path behind batch, streaming
  * and SQL: main-content extraction of a turn payload as
  * `struct<extracted_text, spans, metrics>`, the output columns of
  * [[graft.core.ExtractedTurn]] with the encoder's types and nullability.
  * Never null: a null payload goes to the kernel and comes back quarantined. */
case class ExtractTurn(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ExtractTurn.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    ExtractTurnKernel.extract(child.eval(input).asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.ExtractTurnKernel.extract(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): ExtractTurn =
    copy(child = newChild)
  override def prettyName: String = "extract_turn"
}

object ExtractTurn {
  val dataType: StructType = {
    val schema = Encoders.product[ExtractedTurn].schema
    StructType(Seq("extracted_text", "spans", "metrics").map(schema(_)))
  }

  /** One field of `extract_turn(payload)` — `extract_text` and `extract_spans`
    * in SQL; a query selecting several fields still extracts once per row
    * (subexpression elimination shares the struct). */
  def field(payload: Expression, name: String): Expression =
    GetStructField(ExtractTurn(payload), dataType.fieldIndex(name), Some(name))
}
