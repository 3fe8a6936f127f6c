package graft.spark

import graft.core.ExtractedTurn
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Per-bucket rows and characters of one write, taken while the write runs:
  * `app.Main` feeds it `(bucket, length(extracted_text))` through
  * `Dataset.observe`, so the manifest needs no re-read of the output. The
  * buffer holds the `n` row counts, then the `n` character counts. */
final class BucketTally(n: Int) extends Aggregator[(Int, Int), Array[Long], Array[Long]] {
  override def zero: Array[Long] = new Array[Long](2 * n)
  override def reduce(b: Array[Long], r: (Int, Int)): Array[Long] = {
    b(r._1) += 1
    b(n + r._1) += r._2
    b
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }
  override def finish(r: Array[Long]): Array[Long] = r
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
}

/** Per-conversation rollups with explicit salt: the two-phase aggregation the
  * north rule calls for — phase 1 groups on (conv_id, salt) so a mega
  * conversation spreads over `salt` reducers (map-side combine applies), phase 2
  * merges the partials per conv_id. At 10^12 turns phase 2's input is bounded by
  * convs × salt rows, never by turns. */
object ConvRollup {
  def salted(ds: Dataset[ExtractedTurn], salt: Int = 16): DataFrame =
    ds.toDF()
      .withColumn("__salt", pmod(hash(col("turn_idx")), lit(salt)))
      .groupBy(col("conv_id"), col("__salt"))
      .agg(
        count(lit(1)).as("t"),
        sum(length(col("extracted_text"))).as("c"),
        max(col("turn_idx")).as("m"))
      .groupBy(col("conv_id"))
      .agg(
        sum(col("t")).as("turns"),
        sum(col("c")).as("chars"),
        max(col("m")).as("max_turn_idx"))
}
