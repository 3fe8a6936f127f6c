package graft.spark

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Checkpoint/resume manifest: one row per completed input partition with lineage
  * (input snapshot id, partition spec value, row counts, extraction metrics,
  * wall-clock). A resume run (`app.Main --mode resume`) skips the buckets whose
  * latest entry is done for the same snapshot, so the job resumes idempotently.
  *
  * Production target is Iceberg `MERGE INTO manifest ON part` (SURVEY.md §7.5);
  * this sandbox has no Iceberg runtime jar, so the same semantics are implemented
  * as parquet append + latest-wins dedupe on read (window over run_ts). The
  * call-sites are format-agnostic: swap `write`/`read` for the Iceberg catalog
  * and nothing else changes.
  */
object Manifest {

  val schema: StructType = StructType.fromDDL(
    "part STRING, snapshot_id STRING, rows BIGINT, chars BIGINT, status STRING, run_ts TIMESTAMP")

  def read(spark: SparkSession, path: String): DataFrame = {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    try {
      val raw = spark.read.parquet(path)
      // latest-wins per partition key = MERGE semantics on read
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("part")).orderBy(col("run_ts").desc)
      raw.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    } catch {
      case _: org.apache.spark.sql.AnalysisException => empty // no manifest yet
    }
  }

  def append(df: DataFrame, path: String): Unit =
    df.select(schema.map(f => col(f.name)): _*).write.mode(SaveMode.Append).parquet(path)
}
