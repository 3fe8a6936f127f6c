package graft

import graft.entry._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The operator queries — one per implemented operator (SURVEY.md §2), each
  * with the DuckDB oracle SQL that computes the same rows. The queries live by
  * area under `graft.entry`, each next to its oracle; this object only
  * assembles them into the `queries` and `oracleSql` maps.
  *
  * Float discipline for oracle-matched queries: sums go through DECIMAL so both
  * engines compute exact values; raw doubles are only passed through or min/maxed
  * (no arithmetic), keeping results bit-identical across engines.
  */
object SparkEntry {

  /** Indexes queries by name; a name bound twice fails instead of letting one
    * binding silently replace the other. */
  private[graft] def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names bound more than once: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }

  /** Every query, built once; a duplicate name fails when this object loads. */
  private[graft] val registry: Map[String, Query] = index(
    RelationalQueries.all ++ ExtractionQueries.all ++ PdfQueries.all ++
      StreamingQueries.all ++ DedupQueries.all ++ SimilarityQueries.all ++
      TextQueries.all ++ EventQueries.all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.run }

  val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracle }

  /** Flagship: the full extraction pipeline on sf0.001 transcripts. */
  def entry(spark: SparkSession): DataFrame =
    Inputs.extractDocTurns(spark, "/root/testdata/sf0.001").toDF()
}
