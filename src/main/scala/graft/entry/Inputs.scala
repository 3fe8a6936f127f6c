package graft.entry

import graft.core.{ExtractedTurn, Turn}
import graft.spark.Pipeline
import graft.testgen.Synth
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs shared by several query areas: the sf tables and the
  * docs-as-turns extraction fixture. */
private[graft] object Inputs {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** documents table → RAW transcript turns (deterministic conv/turn mapping
    * shared with the oracle SQL: conv_id = conv_%04d of doc_id%50, turn_idx =
    * doc_id/50). The HTML payload encode is NOT applied here — the pipeline
    * queries fuse it after the range exchange (guide §2.3: the exchange then
    * carries the raw text, and the RangePartitioner's sampling pass doesn't
    * re-run the encode), via [[encodeHtml]]. */
  private def docsAsTurns(s: SparkSession, dir: String): Dataset[Turn] = {
    import s.implicits._
    t(s, dir, "documents")
      .select(
        format_string("conv_%04d", pmod(col("doc_id"), lit(50))).as("conv_id"),
        floor(col("doc_id") / 50).cast("int").as("turn_idx"),
        lit("user").as("role"),
        col("text"),
        lit("").as("tool"),
        timestamp_seconds(lit(1735689600L) + col("doc_id")).as("ts"))
      .as[Turn]
  }

  /** Per-row payload encode for the pipeline queries, fused post-exchange. */
  private val encodeHtml: Column => Column = {
    val f = udf((text: String) => Synth.encodeHtml(text))
    c => f(c)
  }

  /** The e2e extraction over the docs-as-turns fixture: raw rows cross the one
    * range exchange, encode+extract run fused in the post-exchange map stage. */
  def extractDocTurns(s: SparkSession, dir: String): Dataset[ExtractedTurn] =
    Pipeline.extractTurns(docsAsTurns(s, dir), payload = encodeHtml)
}
