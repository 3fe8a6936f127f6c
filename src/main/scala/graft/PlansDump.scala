package graft

import graft.spark.Pipeline
import org.apache.spark.sql.SparkSession

/** Writes PLANS.md: formatted physical plans for the queries whose plan shape
  * carries the 100 TB story (pushdown, broadcast, partial agg, single exchange).
  * Regenerate with: sbt "runMain graft.PlansDump" */
object PlansDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = new StringBuilder
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    out.append("# PLANS — physical-plan evidence (generated by graft.PlansDump)\n\n")
    out.append("Formatted plans for the queries whose *shape* is the scale story.\n")
    out.append("What to look for: `PushedFilters`/pruned `ReadSchema` on scans,\n")
    out.append("`BroadcastHashJoin` for dims, partial `HashAggregate` below each\n")
    out.append("`Exchange`, and a single `Exchange rangepartitioning` in the\n")
    out.append("extraction pipeline.\n")

    val interesting = Seq(
      "q05_filter_pushdown" -> "filter + projection pushed to the parquet scan",
      "q02_join_broadcast" -> "broadcast dimension joins, two-phase aggregation",
      "q01_agg" -> "map-side partial aggregation inside whole-stage codegen",
      "q20_dedup_exact" -> "exact dedup: one shuffle, partial agg below it",
      "q30_ann_bruteforce" -> "ANN: query side broadcast, corpus never shuffles",
      "q31_ann_lsh" -> "LSH ANN: one signature kernel call per row, bucket-key join",
      "q33_ann_ivf" -> "IVF: one typedlit centroid constant, broadcast probes, in-query recall gate",
      "q18_pdf_file_ingest" -> "whole-PDF ingestion: binaryFile scan, per-row flatMap, no shuffle",
      "q46_clean_pipeline" -> "exact128 dedup: winner election shuffles (hash128, id) only — no text on the hash exchange",
      "q25_fingerprint_pairs" -> "winnow-set overlap: exploded (fp, id) join — 8-byte keys, text never enters an exchange",
      "q34_ann_ivfpq" -> "IVF-PQ: encode/ADC kernel calls over M-byte codes, broadcast probe+LUT, exact refine join",
      "q36_substring_dedup" -> "substring dedup: gram exchange carries (hash, id, pos) only; window span-merge touches flagged docs; one clip kernel call per doc",
      "q37_semantic_dedup" -> "semantic dedup: capped LSH pair join feeds size-adaptive connected components; survivor election is a left join on ids")

    interesting.foreach { case (name, why) =>
      out.append(s"\n## $name — $why\n\n")
      // a query whose input path does not exist here is named, not planned;
      // any other failure stops the dump
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        out.append("```\n")
        out.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
        out.append("\n```\n")
      } catch {
        case e: org.apache.spark.sql.AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
          out.append(s"Not planned: an input path does not exist (${e.getMessage.linesIterator.next()}).\n")
      }
    }

    // the extraction pipeline itself
    {
      import spark.implicits._
      // two turns: Catalyst drops a sort over at most one row
      val turns = spark.createDataset(Seq(
        graft.core.Turn("c1", 0, "user", "plain", "", new java.sql.Timestamp(0)),
        graft.core.Turn("c1", 1, "user", "plain", "", new java.sql.Timestamp(0))))
      val df = Pipeline.extractTurns(turns)
      out.append("\n## extraction pipeline — single range exchange, extract_turn projection, sorted partitions\n\n```\n")
      out.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      out.append("\n```\n")
    }

    java.nio.file.Files.writeString(java.nio.file.Paths.get("PLANS.md"), out.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
