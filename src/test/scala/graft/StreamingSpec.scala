package graft

import graft.core.Turn
import graft.streaming.StreamingPipeline
import graft.testgen.Synth
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  test("streaming extraction matches the batch kernel per turn") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = Synth.corpus(seed = 7L, convs = 4, avgTurns = 4, megaTurns = 8).toVector
    val turns = rows.map(r => Turn(r.conv_id, r.turn_idx, r.role, r.text, r.tool,
      new java.sql.Timestamp(r.tsMillis)))

    val stream = MemoryStream[Turn]
    stream.addData(turns)
    val q = StreamingPipeline.extractStream(stream.toDS())
      .writeStream.format("memory").queryName("stream_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val got = spark.table("stream_out")
      .select("conv_id", "turn_idx", "extracted_text")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    val expected = rows.map(r => (r.conv_id, r.turn_idx) -> r.expected).toMap
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("streaming dedup drops replayed turns within the watermark horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2026-02-01 00:00:00").getTime
    def turn(conv: String, idx: Int, text: String, offsetSec: Int) =
      Turn(conv, idx, "user", text, "", new java.sql.Timestamp(base + offsetSec * 1000L))

    val stream = MemoryStream[Turn]
    val q = StreamingPipeline.dedupeStream(stream.toDS())
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    // original batch + an exact replay (at-least-once source) + one turn whose
    // content changed (same key, different hash — must survive)
    stream.addData(Seq(
      turn("c1", 0, "hello", 0), turn("c1", 1, "world", 1), turn("c2", 0, "x", 2)))
    q.processAllAvailable()
    stream.addData(Seq(
      turn("c1", 0, "hello", 0), // replayed duplicate
      turn("c1", 1, "world!", 1), // same (conv, idx), new content
      turn("c2", 1, "y", 3)))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("dedup_out")
      .select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got == Set(
      ("c1", 0, "hello"), ("c1", 1, "world"), ("c2", 0, "x"),
      ("c1", 1, "world!"), ("c2", 1, "y")))
  }

  test("stateful sessionizer closes conversations after event-time silence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2026-02-01 00:00:00").getTime
    def turn(conv: String, idx: Int, offsetSec: Int) =
      Turn(conv, idx, "user", s"text $conv $idx", "",
        new java.sql.Timestamp(base + offsetSec * 1000L))
    val stream = MemoryStream[Turn]
    // c1: three turns within a minute, then silence; c2 keeps the watermark moving
    stream.addData(turn("c1", 0, 0), turn("c1", 1, 30), turn("c1", 2, 60))
    stream.addData(turn("c2", 0, 7200)) // 2h later → c1's 30-min gap expires
    val q = StreamingPipeline.sessionize(stream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_out").outputMode("append").start()
    q.processAllAvailable()
    // one more batch so the state store applies the advanced watermark timeout
    stream.addData(turn("c2", 1, 10800))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("sessions_out")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sessions.contains("c1"), sessions.toString)
    assert(sessions("c1")._1 == 3) // three turns in the closed session
  }

  test("windowed metrics with watermark aggregate per event-time minute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val turns = (0 until 10).map { i =>
      Turn("c1", i, if (i % 2 == 0) "user" else "assistant", "plain text " + i, "",
        new java.sql.Timestamp(base + i * 30000L)) // every 30s → 2 per minute per 2 roles
    }
    val stream = MemoryStream[Turn]
    stream.addData(turns)
    stream.addData(Turn("c1", 99, "user", "x", "", new java.sql.Timestamp(base + 3600000L)))
    val q2 = StreamingPipeline.windowedMetrics(stream.toDS())
      .writeStream.format("memory").queryName("win_out2").outputMode("complete").start()
    q2.processAllAvailable()
    q2.stop()
    val out = spark.table("win_out2").select(col("window.start").as("ws"), col("turns"))
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1))
    assert(out.nonEmpty)
    val minStart = out.map(_._1.getTime).min
    // earliest 1-minute window: turns 0 (user) + 1 (assistant) → 2 turns total
    assert(out.filter(_._1.getTime == minStart).map(_._2).sum == 2, out.toSeq.toString)
  }

  test("a bounded event stream deletes its staged dir, also when the stream fails") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def staged(): Set[String] = {
      val ls = java.nio.file.Files.list(tmp)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft_events")).toSet
      finally ls.close()
    }
    // an events table as the single parquet file the helper stages
    val eventsDir = java.nio.file.Files.createTempDirectory("graft-events-src")
    (0 until 20).map(i => (i % 4L, i.toLong, "click", s"props $i",
        new java.sql.Timestamp(1700000000000L + i * 1000L)))
      .toDF("user_id", "event_id", "event_type", "props", "ts")
      .coalesce(1).write.parquet(eventsDir.resolve("w").toString)
    val ls = java.nio.file.Files.list(eventsDir.resolve("w"))
    val part = try ls.iterator().asScala.find(_.toString.endsWith(".parquet")).get finally ls.close()
    java.nio.file.Files.move(part, eventsDir.resolve("events.parquet"))
    val before = staged()
    val rows = graft.entry.StreamingQueries.boundedEventStream(spark, eventsDir.toString, copies = 1)(identity)
    assert(rows.count() == 20)
    assert(staged() == before)
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      graft.entry.StreamingQueries.boundedEventStream(spark, eventsDir.toString, copies = 2)(
        _.map[Turn](_ => throw new IllegalStateException("planted stream failure")))
    }
    assert(staged() == before)
  }
}
