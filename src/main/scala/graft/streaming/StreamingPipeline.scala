package graft.streaming

import graft.core.{ExtractedTurn, Turn}
import graft.spark.Pipeline
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Mutable-free per-conversation session accumulator (Encoders need it public
  * and top-level for codegen). */
final case class SessionState(turns: Long, chars: Long, firstTs: Long, lastTs: Long)

/** Structured Streaming face of the extractor: the batch path's
  * `extract_turn` projection behind `readStream → select → writeStream`, for
  * deployments that tail the transcript table instead of batch-snapshotting it.
  *
  * The batch pipeline's ordering contract (global (conv_id, turn_idx) order)
  * doesn't exist in a stream; instead the stream guarantees idempotent append
  * (checkpointed source offsets — the streaming analog of the batch manifest)
  * and ships the same extraction payloads. Windowed metrics use event-time
  * watermarks so late turns neither block nor corrupt the aggregates.
  */
object StreamingPipeline {

  /** File-stream source over a transcript directory (Iceberg streaming source
    * in production; parquet dir here — same plan shape). */
  def readTurnStream(spark: SparkSession, path: String): Dataset[Turn] = {
    import spark.implicits._
    spark.readStream
      .schema(Pipeline.turnReadSchema)
      .parquet(path)
      .as[Turn]
  }

  /** Stateless per-turn extraction — the batch path's projection, so batch
    * and streaming outputs are bit-identical per turn. */
  def extractStream(turns: Dataset[Turn]): Dataset[ExtractedTurn] = {
    import turns.sparkSession.implicits._
    Pipeline.extract(turns).as[ExtractedTurn]
  }

  /** Event-time windowed extraction metrics: turns/chars per 1-minute window
    * per role, tolerating 5 minutes of event-time lateness. */
  def windowedMetrics(turns: Dataset[Turn]): DataFrame =
    Pipeline.extract(turns, keep = Seq("role", "ts"))
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("role"))
      .agg(
        count(lit(1)).as("turns"),
        sum(length(col("extracted_text"))).as("chars"),
        sum(col("metrics.dropped_nodes")).as("dropped_nodes"))

  /** Session descriptor emitted when a conversation goes quiet. */
  final case class ConvSession(
      conv_id: String, turns: Long, chars: Long,
      first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)


  /** Custom streaming state: per-conversation sessions closed after `gapMinutes`
    * of event-time silence — `flatMapGroupsWithState` with an event-time timeout
    * (the KeyValueGroupedDataset state API the batch engine has no analog for).
    * Emits one ConvSession row when the conversation times out. */
  def sessionize(turns: Dataset[Turn], gapMinutes: Int = 30): Dataset[ConvSession] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import turns.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    turns
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (convId: String, rows: Iterator[Turn], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ConvSession(convId, s.turns, s.chars,
              new java.sql.Timestamp(s.firstTs), new java.sql.Timestamp(s.lastTs)))
          } else {
            var s = state.getOption.getOrElse(SessionState(0, 0, Long.MaxValue, Long.MinValue))
            rows.foreach { t =>
              s = SessionState(s.turns + 1, s.chars + t.text.length,
                math.min(s.firstTs, t.ts.getTime), math.max(s.lastTs, t.ts.getTime))
            }
            state.update(s)
            state.setTimeoutTimestamp(s.lastTs + gapMs)
            Iterator.empty
          }
        })
  }

  /** Streaming exact dedup: drop replayed/duplicated turns inside the
    * watermark horizon, keyed by identity + a 64-bit content hash — the
    * streaming face of `Dedup.exact` (state stays bounded: rows older than
    * the watermark age out of the dedup state automatically, which is the
    * only state policy that survives 10^12 turns). */
  def dedupeStream(turns: Dataset[Turn], lateness: String = "10 minutes"): Dataset[Turn] = {
    import turns.sparkSession.implicits._
    turns
      .withWatermark("ts", lateness)
      .withColumn("__h", xxhash64(col("text")))
      .dropDuplicatesWithinWatermark("conv_id", "turn_idx", "__h")
      .drop("__h")
      .as[Turn]
  }

  /** Sink: append to parquet/Iceberg with checkpointed exactly-once offsets. */
  def writer(extracted: Dataset[ExtractedTurn], outPath: String, checkpoint: String): DataStreamWriter[ExtractedTurn] =
    extracted.writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
}
