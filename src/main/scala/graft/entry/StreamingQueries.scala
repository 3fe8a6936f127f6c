package graft.entry

import graft.core.Turn
import graft.streaming.StreamingPipeline
import java.nio.file.{Files, Path, Paths}
import java.util.{Comparator, UUID}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import scala.util.control.NonFatal

/** Structured Streaming under hard oracles: the events table read as a
  * bounded file stream (Trigger.AvailableNow) into a memory sink. */
private[graft] object StreamingQueries {

  /** Runs `f` over the events table as a bounded file stream and returns the
    * memory-sink table it filled. FileStreamSource wants a directory, so
    * `copies` copies of the events file are staged into a temp dir; with more
    * than one, every row arrives as a replay duplicate. One AvailableNow data
    * batch holds every staged row, then a no-data batch flushes what the final
    * watermark closes. The staged dir is deleted in a `finally` — also when the
    * stream fails — since `deleteOnExit` removes only empty directories. */
  private[graft] def boundedEventStream(s: SparkSession, dir: String, copies: Int)(
      f: Dataset[Turn] => Dataset[_]): DataFrame = {
    import s.implicits._
    val events = Paths.get(s"$dir/events.parquet")
    val schema = s.read.parquet(events.toString).schema
    val streamDir = Files.createTempDirectory("graft_events")
    try {
      (1 to copies).foreach(i => Files.copy(events, streamDir.resolve(s"events_$i.parquet")))
      val turns = s.readStream.schema(schema).parquet(streamDir.toString)
        .select(col("user_id").cast("string").as("conv_id"),
          col("event_id").cast("int").as("turn_idx"),
          col("event_type").as("role"),
          col("props").as("text"),
          lit("").as("tool"),
          // the parquet ts is NTZ; the session runs UTC, so the cast is a
          // pure type change and getTime matches the naive epoch
          col("ts").cast("timestamp").as("ts"))
        .as[Turn]
      // unique sink name: re-invocation in one session must not collide
      val sink = "events_stream_" + UUID.randomUUID.toString.replace("-", "")
      f(turns).writeStream.format("memory").queryName(sink)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.table(sink)
    } finally deleteStagedDir(streamDir)
  }

  private def deleteStagedDir(dir: Path): Unit =
    try {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder()).forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    } catch { case NonFatal(_) => () }

  val all: Seq[Query] = Seq(
    Query("q71_streaming_sessions",
      """WITH mx AS (SELECT epoch_ms(max(ts)) AS m_ms FROM events)
        |SELECT CAST(user_id AS VARCHAR) AS conv_id,
        |       COUNT(*) AS turns,
        |       CAST(SUM(LENGTH(props)) AS BIGINT) AS chars,
        |       epoch_ms(epoch_ms(MIN(ts))) AS first_ts,
        |       epoch_ms(epoch_ms(MAX(ts))) AS last_ts
        |FROM events, mx
        |GROUP BY user_id, mx.m_ms
        |HAVING epoch_ms(MAX(ts)) + 1800000 < mx.m_ms - 1800000""".stripMargin) { (s, dir) =>
      // the Structured Streaming lane under a hard oracle (round 6 —
      // previously unit-gated only): the events table read as a BOUNDED
      // file stream (Trigger.AvailableNow), sessionized per user through
      // flatMapGroupsWithState with an EVENT-TIME TIMEOUT, memory-sinked.
      // Bounded-stream semantics are deterministic: one data batch holds
      // every row (so each user accumulates one session), then the no-data
      // flush batch fires timeouts for sessions whose lastTs + gap lies
      // strictly below the final watermark (max event-time ms − delay) —
      // users active within the last 2·gap of the stream stay open and are
      // withheld, exactly what an unbounded run would do. The oracle
      // replays that rule relationally (ms truncation included — both the
      // watermark and the emitted timestamps are ms-precision).
      boundedEventStream(s, dir, copies = 1)(
        StreamingPipeline.sessionize(_, gapMinutes = 30))
        .select(col("conv_id"), col("turns"), col("chars"),
          col("first_ts"), col("last_ts"))
    },
    Query("q72_streaming_dedup",
      """SELECT CAST(user_id AS VARCHAR) AS conv_id,
        |       CAST(event_id AS INT) AS turn_idx,
        |       event_type AS role,
        |       md5(props) AS text_md5,
        |       ts
        |FROM events""".stripMargin) { (s, dir) =>
      // the streaming exact-dedup lane under a hard oracle (round 6): the
      // events table staged TWICE into the stream directory — every row a
      // replay duplicate — through dropDuplicatesWithinWatermark keyed by
      // (identity, 64-bit content hash). Both copies land in one
      // AvailableNow batch, inside the watermark horizon by construction,
      // so the output is exactly one row per original event; the oracle is
      // the plain distinct projection.
      boundedEventStream(s, dir, copies = 2)(StreamingPipeline.dedupeStream(_))
        .select(col("conv_id"), col("turn_idx"), col("role"),
          md5(col("text")).as("text_md5"), col("ts"))
    },
    Query("q73_streaming_windows",
      """WITH mx AS (SELECT epoch_ms(max(ts)) AS m_ms FROM events)
        |SELECT date_trunc('minute', ts) AS wstart,
        |       event_type AS role,
        |       COUNT(*) AS turns
        |FROM events, mx
        |GROUP BY date_trunc('minute', ts), event_type, mx.m_ms
        |HAVING epoch_ms(date_trunc('minute', ts)) + 60000 <= mx.m_ms - 300000""".stripMargin) { (s, dir) =>
      // the watermarked windowed-aggregation lane under a hard oracle
      // (round 6): events as a bounded AvailableNow stream through
      // windowedMetrics — extraction + 1-minute event-time tumbling windows
      // per role with 5 minutes of tolerated lateness, append mode. The
      // no-data flush batch closes every window whose end lies at or below
      // the final watermark (max event-time ms − 5 min); the oracle replays
      // that rule relationally over the turn counts (the extracted-char
      // sums ride the extractor kernel, which the golden gates own).
      boundedEventStream(s, dir, copies = 1)(StreamingPipeline.windowedMetrics(_))
        .select(col("window.start").as("wstart"), col("role"), col("turns"))
    }
  )
}
