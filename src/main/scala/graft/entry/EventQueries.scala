package graft.entry

import graft.entry.Inputs.t
import graft.ops.Multimodal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics (windows, sessions, min/max, rollup), the salted
  * and as-of joins, and the multimodal decode plumbing. */
private[graft] object EventQueries {

  val all: Seq[Query] = Seq(
    Query("q50_events_window",
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS cnt,
        | CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
    },
    Query("q51_sessionize",
      """SELECT event_id, user_id,
        | CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |FROM (
        |  SELECT event_id, user_id, ts,
        |   CASE WHEN lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |         OR date_diff('second', lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
        |        THEN 1 ELSE 0 END AS brk
        |  FROM events) s""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("brk",
          when(col("prev_ts").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 1800, lit(1))
            .otherwise(lit(0)))
        .withColumn("session_id", sum(col("brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select("event_id", "user_id", "session_id")
    },
    Query("q52_events_minmax",
      """SELECT event_type, count(*) AS cnt, min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY event_type""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), min(col("value")).as("min_value"), max(col("value")).as("max_value"))
    },
    Query("q53_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"))
    },
    Query("q58_salted_join",
      """SELECT c_nationkey, count(*) AS n_orders,
        | CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      graft.ops.Joins.salted(o, c, "c_custkey", salt = 8)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"))
    },
    Query("q59_asof_join",
      """SELECT l.event_id, l.user_id, r.value AS value_asof
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') r
        |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.ops.Joins.asOf(clicks, purchases, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"), col("value_asof"))
    },
    Query("q60_multimodal",
      """SELECT doc_id AS media_id,
        | (['image','audio','video'])[CAST(doc_id % 3 AS INT) + 1] AS kind,
        | CASE WHEN doc_id % 3 = 0 THEN (doc_id % 64) * 16 + 16 ELSE -1 END AS decoded_w,
        | CASE WHEN doc_id % 3 = 0 THEN (doc_id % 48) * 16 + 16 ELSE -1 END AS decoded_h,
        | CASE WHEN doc_id % 3 = 1 THEN ((doc_id % 200) + 50) * 8 ELSE -1 END AS decoded_frames
        |FROM documents""".stripMargin) { (s, dir) =>
      // image AND audio lanes decode for REAL: a deterministic JPEG / PCM16
      // WAV is synthesized per row, decoded back via javax.imageio /
      // javax.sound.sampled inside extractFeatures, and the decoded
      // dimensions (features 0/1) resp. frame count (feature 2) must equal
      // the metadata the oracle recomputes from doc_id. The video lane
      // remains a stubbed byte payload (disclosed in Multimodal's Scaladoc —
      // the JDK ships no video codec).
      Multimodal.extractFeatures(Multimodal.syntheticMediaReal(s, s"$dir/documents.parquet"))
        .toDF()
        .select(col("media_id"), col("kind"),
          when(col("kind") === "image", element_at(col("features"), 1).cast("long"))
            .otherwise(lit(-1L)).as("decoded_w"),
          when(col("kind") === "image", element_at(col("features"), 2).cast("long"))
            .otherwise(lit(-1L)).as("decoded_h"),
          when(col("kind") === "audio", element_at(col("features"), 3).cast("long"))
            .otherwise(lit(-1L)).as("decoded_frames"))
    }
  )
}
