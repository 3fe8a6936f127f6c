package graft.spark

import graft.core.{ExtractedTurn, Turn}
import graft.functions.TextHashes.extract_turn
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.GraftBridge.{toColumn => column, toExpression => expression}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.functions._

/** The production extraction job, Spark-first:
  *
  *   scan (Iceberg/parquet, column-pruned, partition-pruned)
  *     → repartitionByRange(conv_id, turn_idx)      // skew-safe: a mega-conversation
  *                                                  // splits across partitions by
  *                                                  // turn_idx ranges, no salt needed
  *                                                  // for this stateless map stage
  *     → sortWithinPartitions(conv_id, turn_idx)    // stable turn ordering
  *     → select(extract_turn(text).*)              // one Catalyst expression around
  *                                                  // the hot per-row state machines
  *     → sink (idempotent MERGE-keyed on (conv_id, turn_idx) in Iceberg; parquet
  *       append + manifest in this sandbox)
  *
  * Because turns are independent (the reference's page loop is sequential only as
  * an artifact of its promise chain — pdfToSvg.js:65-89), the only cross-row
  * requirement is *ordering* of the output, which range partitioning + within-
  * partition sort provides without a global sort barrier. At 100 TB the plan is:
  * one shuffle (the range exchange), then a single pipelined map stage; AQE
  * coalesces small partitions and splits skewed ones. The extraction is a
  * projection, so column pruning keeps `role`, `tool` and `ts` off the exchange
  * and no object deserialize/serialize pair surrounds the kernel.
  */
object Pipeline {

  def readTurns(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(path).as[Turn]
  }

  /** Core extraction: ordered, skew-safe, one shuffle. `payload` is a per-row
    * step on `text` that runs AFTER the range exchange (guide §2.3/§8): the
    * exchange carries the raw text instead of the expanded payload, and the
    * RangePartitioner's sampling pass never evaluates it. */
  def extractTurns(ds: Dataset[Turn], numPartitions: Option[Int] = None,
      payload: Column => Column = identity): Dataset[ExtractedTurn] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val parts = numPartitions.getOrElse(spark.sessionState.conf.numShufflePartitions)
    extract(ds.repartitionByRange(parts, col("conv_id"), col("turn_idx"))
      .sortWithinPartitions(col("conv_id"), col("turn_idx")), payload = payload)
      .as[ExtractedTurn]
  }

  private lazy val turnSchema = Encoders.product[Turn].schema

  /** The extraction projection batch and streaming share: the `keep` columns,
    * then `extract_turn(payload(text))` expanded to extracted_text, spans and
    * metrics. The struct is computed in its own projection, which Catalyst
    * does not collapse into the three field reads, so each row is extracted
    * once. Kept columns take the nullability the `Turn` encoder gives them:
    * a null `turn_idx` fails the job rather than writing a null key. */
  def extract(turns: Dataset[_], keep: Seq[String] = Seq("conv_id", "turn_idx"),
      payload: Column => Column = identity): DataFrame = {
    val kept = keep.map { c =>
      if (turnSchema(c).nullable) col(c) else column(AssertNotNull(expression(col(c)))).as(c)
    }
    turns.select(kept :+ extract_turn(payload(col("text"))).as("__turn"): _*)
      .select(kept :+ col("__turn.*"): _*)
  }

  /** Ordering invariant check (BASELINE.json north_rule): row_number over
    * (conv_id ORDER BY turn_idx) must equal the dense per-conversation index.
    * Returns the violation count — 0 on a healthy table. */
  def orderingViolations(ds: Dataset[ExtractedTurn]): Long = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    ds.toDF()
      .withColumn("rn", row_number().over(w))
      .withColumn("expected", dense_rank().over(w))
      .filter(col("rn") =!= col("expected"))
      .count()
  }

  /** One-pass extraction metrics for the manifest (SURVEY.md §2.10). */
  def metrics(ds: Dataset[ExtractedTurn]) = {
    ds.toDF().agg(
      count(lit(1)).as("turns"),
      sum(length(col("extracted_text"))).as("chars"),
      sum(col("metrics.runs")).as("runs"),
      sum(col("metrics.dropped_nodes")).as("dropped_nodes"),
      approx_count_distinct(col("conv_id")).as("approx_convs"))
  }
}
