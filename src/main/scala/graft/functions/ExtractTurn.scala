package graft.functions

import graft.core.ExtractedTurn
import graft.extract.Extractor
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.StructType
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

/** The result type of `extract_turn(payload)` (see [[TextHashes.extract_turn]]):
  * `struct<extracted_text, spans, metrics>`, the output columns of
  * [[graft.core.ExtractedTurn]] with the encoder's types and nullability. */
object ExtractTurn {
  val dataType: StructType = {
    val schema = Encoders.product[ExtractedTurn].schema
    StructType(Seq("extracted_text", "spans", "metrics").map(schema(_)))
  }
}
