package graft.entry

import graft.entry.Inputs.{extractDocTurns, t}
import graft.extract.Extractor
import graft.testgen.Synth
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The extraction engine under its round-trip contract: a document encoded
  * into a dialect payload and extracted back equals its text. Covers the four
  * dialects, the end-to-end turn pipeline, spans, ordering, the SQL face and
  * the conversation rollup. */
private[graft] object ExtractionQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select("doc_id", "text")

  /** The typed round-trip lane of q10–q12 and q49: `f` encodes a document's
    * text into one dialect's payload and extracts it back. The `map` stays
    * typed on purpose: Bench times q10–q12 with `.count()`, and Catalyst would
    * prune an unreferenced column projection, so that timer would stop running
    * extraction. */
  private def roundTrip(docs: DataFrame)(f: String => String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.as[(Long, String)]
      .map { case (id, txt) => (id, f(txt)) }
      .toDF("doc_id", "extracted_text")
  }

  /** Scale-adaptive fan-out for CPU-bound per-row stages over small compressed
    * scans (r7, guide §2.2/§6): text compresses 10-60× in parquet, so
    * byte-sized splits undercount the work per row and a sub-core partition
    * count serializes the kernel stage on one thread. When the scan yields
    * fewer partitions than defaultParallelism, fan out once (the exchange
    * carries the narrow pre-kernel projection); on a cluster-sized input the
    * scan already exceeds defaultParallelism and this is a NO-OP — no
    * constant tuned to the local core count, no extra exchange at scale. */
  private def fanOutNarrowScan(df: DataFrame): DataFrame = {
    val parts = df.rdd.getNumPartitions
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (parts < target) df.repartition(target) else df
  }

  val all: Seq[Query] = Seq(
    Query("q10_extract_html",
      "SELECT doc_id, text AS extracted_text FROM documents") { (s, dir) =>
      roundTrip(docs(s, dir))(txt => Extractor.extract(Synth.encodeHtml(txt)).text)
    },
    Query("q11_extract_svg",
      "SELECT doc_id, text AS extracted_text FROM documents") { (s, dir) =>
      // the heaviest per-row lane (SVG encode emits one pf-formatted x per
      // glyph): fan the narrow scan out to the session parallelism first —
      // no-op at cluster scale (see fanOutNarrowScan)
      roundTrip(fanOutNarrowScan(docs(s, dir))) { txt =>
        Extractor.extract(Synth.encodeSvg(txt)).text.replace('\n', ' ')
      }
    },
    Query("q12_extract_pdf",
      "SELECT doc_id, text AS extracted_text FROM documents") { (s, dir) =>
      roundTrip(docs(s, dir)) { txt =>
        Extractor.extract(Synth.encodePdf(txt)).text.replace('\n', ' ')
      }
    },
    Query("q13_pipeline_e2e",
      """SELECT 'conv_' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') AS conv_id,
        | CAST(doc_id // 50 AS INT) AS turn_idx, text AS extracted_text
        |FROM documents""".stripMargin) { (s, dir) =>
      extractDocTurns(s, dir)
        .select("conv_id", "turn_idx", "extracted_text")
    },
    Query("q14_spans",
      """SELECT doc_id, CAST(0 AS BIGINT) AS span_start, length(text) AS span_end,
        | 'html>body>div>p' AS label FROM documents""".stripMargin) { (s, dir) =>
      import s.implicits._
      docs(s, dir).as[(Long, String)]
        .flatMap { case (id, txt) =>
          Extractor.extract(Synth.encodeHtml(txt)).spans
            .map(sp => (id, sp.start.toLong, sp.end.toLong, sp.label))
        }
        .toDF("doc_id", "span_start", "span_end", "label")
    },
    Query("q15_ordering",
      """SELECT 'conv_' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') AS conv_id,
        | CAST(doc_id // 50 AS INT) AS turn_idx,
        | row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id // 50) AS rn
        |FROM documents""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
      extractDocTurns(s, dir)
        .select("conv_id", "turn_idx")
        .withColumn("rn", row_number().over(w).cast("long"))
    },
    Query("q16_sql_extract",
      "SELECT doc_id, text AS extracted_text FROM documents") { (s, dir) =>
      graft.functions.TextHashes.register(s)
      import s.implicits._
      docs(s, dir).as[(Long, String)]
        .map { case (id, txt) => (id, Synth.encodeHtml(txt)) }
        .toDF("doc_id", "payload")
        .createOrReplaceTempView("payloads")
      s.sql("SELECT doc_id, extract_text(payload) AS extracted_text FROM payloads")
    },
    Query("q17_conv_rollup",
      """SELECT 'conv_' || lpad(CAST(doc_id % 50 AS VARCHAR), 4, '0') AS conv_id,
        | count(*) AS turns, CAST(sum(length(text)) AS BIGINT) AS chars,
        | CAST(max(doc_id // 50) AS INT) AS max_turn_idx
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      graft.spark.ConvRollup.salted(extractDocTurns(s, dir))
        .select(col("conv_id"), col("turns"), col("chars"),
          col("max_turn_idx").cast("int").as("max_turn_idx"))
    },
    Query("q49_extract_markdown",
      "SELECT doc_id, text AS extracted_text FROM documents") { (s, dir) =>
      // dialect D: markdown turn payloads (front matter + inline decorations)
      // round-trip to the original text, same contract as q10/q11/q12
      roundTrip(docs(s, dir))(txt => Extractor.extract(Synth.encodeMarkdown(txt)).text)
    }
  )
}
