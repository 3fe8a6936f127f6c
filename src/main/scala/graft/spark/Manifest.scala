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

  /** The latest entry per part; empty when no manifest has been written yet.
    * A missing path is checked for, not read and caught, so a first resume
    * runs no failing query. The manifest is read with its known schema. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      // latest-wins per partition key = MERGE semantics on read
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("part")).orderBy(col("run_ts").desc)
      spark.read.schema(schema).parquet(path)
        .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    }
  }

  def append(df: DataFrame, path: String): Unit =
    df.select(schema.map(f => col(f.name)): _*).write.mode(SaveMode.Append).parquet(path)
}
